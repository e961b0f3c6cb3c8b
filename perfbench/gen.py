"""Seeded synthetic-tree inputs and the pure-Python reference answers.

``make_tree(seed, n_tips)`` grows a tree with stdlib ``random`` only: a
balanced top of five levels whose 32 leaves each grow

- a Yule clade (a uniformly chosen tip splits in two),
- with some large polytomies (a tip splits into 10-60 children),
- and caterpillar runs (a tip becomes a ladder of 5-30 nodes, each with
  one tip child),

so tips sit about twenty levels deep and up to eighty, like a real
synthesis tree, instead of the handful of levels of a balanced tree. Every internal node has at least two
children. Labels follow the Open Tree synthesis convention: ``ott<uid>`` on
tips, the root and a share of internal nodes, ``mrcaott<a>ott<b>`` (first
and last tip of the clade) on the rest.

``write_inputs`` writes the three files ingest reads: the newick, the
annotations JSON and the taxonomy TSV (with more rows than the tree uses,
as the real taxonomy has). ``Tree`` also answers every question the
benchmark asks the server, straight from its parent array, so the checks
do not share code with the program under test.
"""

from __future__ import annotations

import json
import os
import random

TAXONOMY_VERSION = "3.7draft2"
N_SOURCES = 40
BACKBONE_LEVELS = 5
_SYLL = ["ba", "co", "de", "fi", "gu", "ha", "ki", "lo", "mu", "ne",
         "pa", "ri", "so", "ta", "vu", "xe", "za", "or", "ul", "em"]


class Tree:
    """A rooted tree in parent-array form, nodes numbered in pre-order.

    ``tip_rank[v]`` is tip v's rank among the tips in pre-order; the tips
    under any node form one contiguous run ``tip_lo[v] .. tip_hi[v]`` of
    that order, which is how clades are compared without building sets.
    ``names`` maps taxon uid to name; without it names are generated.
    """

    def __init__(self, parent: list[int], children: list[list[int]], ids: list[str],
                 ott: list[int | None], names: dict[int, str] | None = None):
        self.parent = parent
        self.children = children
        self.ids = ids
        self.ott = ott
        self.names = names
        self.spare_uids: list[int] = []
        self.index = {nid: v for v, nid in enumerate(ids)}
        n = len(parent)
        self.depth = [0] * n
        for v in range(1, n):  # pre-order: a parent precedes its children
            self.depth[v] = self.depth[parent[v]] + 1
        self.tips = [v for v in range(n) if not children[v]]
        self.tip_rank = {v: r for r, v in enumerate(self.tips)}
        self.tip_lo = [0] * n
        self.tip_hi = [0] * n
        for v in range(n - 1, -1, -1):
            if children[v]:
                self.tip_lo[v] = self.tip_lo[children[v][0]]
                self.tip_hi[v] = self.tip_hi[children[v][-1]]
            else:
                self.tip_lo[v] = self.tip_hi[v] = self.tip_rank[v]

    def taxon_name(self, uid: int) -> str:
        return self.names[uid] if self.names is not None else taxon_name(uid)

    # -- shape ----------------------------------------------------------
    @property
    def n_nodes(self) -> int:
        return len(self.parent)

    def num_tips(self, v: int) -> int:
        return self.tip_hi[v] - self.tip_lo[v] + 1

    def closure_rows(self) -> int:
        """Rows of the ancestor closure: one per (node, proper ancestor)."""
        return sum(self.depth)

    def shape(self) -> dict:
        tip_depths = [self.depth[v] for v in self.tips]
        return {
            "tips": len(self.tips),
            "nodes": self.n_nodes,
            "mean_tip_depth": round(sum(tip_depths) / len(tip_depths), 2),
            "max_depth": max(self.depth),
            "closure_rows": self.closure_rows(),
        }

    # -- answers --------------------------------------------------------
    def lineage(self, v: int) -> list[int]:
        """Proper ancestors, parent first."""
        out = []
        while self.parent[v] >= 0:
            v = self.parent[v]
            out.append(v)
        return out

    def mrca(self, vs) -> int:
        lo = min(self.tip_lo[v] for v in vs)
        hi = max(self.tip_hi[v] for v in vs)
        v = next(iter(vs))
        while not (self.tip_lo[v] <= lo and self.tip_hi[v] >= hi):
            v = self.parent[v]
        return v

    def newick(self) -> str:
        out: list[str] = []
        stack: list[tuple[int, int]] = [(0, 0)]
        while stack:
            v, i = stack[-1]
            kids = self.children[v]
            if not kids:
                out.append(self.ids[v])
                stack.pop()
            elif i < len(kids):
                out.append("(" if i == 0 else ",")
                stack[-1] = (v, i + 1)
                stack.append((kids[i], 0))
            else:
                out.append(")" + self.ids[v])
                stack.pop()
        return "".join(out) + ";"


def _grow(rng: random.Random, n_tips: int) -> list[list[int]]:
    """Children lists of a tree with about n_tips tips: a balanced top of
    BACKBONE_LEVELS levels, each of whose leaves grows its own Yule clade
    with polytomies and caterpillar runs. Averaging over many independent
    clades keeps the depth, and so the closure size, steady across seeds;
    events start once a clade has a quarter of its tips, so no single early
    event deepens most of the tree."""
    children: list[list[int]] = [[]]

    def add(p: int) -> int:
        children.append([])
        children[p].append(len(children) - 1)
        return len(children) - 1

    roots = [0]
    for _ in range(BACKBONE_LEVELS):
        roots = [add(v) for v in roots for _ in range(2)]
    per_clade = max(2, n_tips // len(roots))
    for root in roots:
        tips = [root]
        while len(tips) < per_clade:
            i = rng.randrange(len(tips))
            t = tips[i]
            tips[i] = tips[-1]
            tips.pop()
            r = rng.random() if len(tips) >= per_clade // 4 else 1.0
            if r < 0.02:  # polytomy
                tips.extend(add(t) for _ in range(rng.randint(10, 60)))
            elif r < 0.06:  # caterpillar run
                v = t
                for _ in range(rng.randint(5, 30)):
                    tips.append(add(v))
                    v = add(v)
                tips.append(add(v))
                tips.append(add(v))
            else:  # Yule split
                tips.append(add(t))
                tips.append(add(t))
    return children


def make_tree(seed: int, n_tips: int) -> Tree:
    rng = random.Random(seed)
    grown = _grow(rng, n_tips)
    # renumber in pre-order so a parent always precedes its children
    order: list[int] = []
    stack = [0]
    while stack:
        v = stack.pop()
        order.append(v)
        stack.extend(reversed(grown[v]))
    new = {old: i for i, old in enumerate(order)}
    children = [[new[c] for c in grown[old]] for old in order]
    parent = [-1] * len(order)
    for p, kids in enumerate(children):
        for c in kids:
            parent[c] = p
    n = len(parent)
    uids = rng.sample(range(10_000, 90_000_000), n)
    ott: list[int | None] = [None] * n
    for v in range(n):
        if not children[v] or v == 0 or rng.random() < 0.3:
            ott[v] = uids[v]
    first = [0] * n
    last = [0] * n
    for v in range(n - 1, -1, -1):
        if children[v]:
            first[v] = first[children[v][0]]
            last[v] = last[children[v][-1]]
        else:
            first[v] = last[v] = ott[v]
    ids = [f"ott{ott[v]}" if ott[v] is not None else f"mrcaott{first[v]}ott{last[v]}"
           for v in range(n)]
    tree = Tree(parent, children, ids, ott)
    tree.spare_uids = rng.sample(range(90_000_000, 99_000_000), n // 2)
    return tree


def taxon_name(uid: int) -> str:
    r = random.Random(uid)
    word = "".join(r.choice(_SYLL) for _ in range(r.randint(2, 4)))
    return word.capitalize() + (" " + "".join(r.choice(_SYLL) for _ in range(3))
                                if r.random() < 0.5 else "")


def sources(seed: int) -> dict:
    rng = random.Random(seed * 7 + 1)
    out = {}
    for k in range(N_SOURCES):
        study, tree_id = f"pg_{rng.randint(100, 9999)}", f"tree{rng.randint(1, 99999)}"
        out[f"{study}@{tree_id}"] = {
            "git_sha": f"{rng.getrandbits(32):08x}", "tree_id": tree_id, "study_id": study,
        }
    return out


def annotations(tree: Tree, seed: int) -> dict:
    rng = random.Random(seed * 7 + 2)
    smap = sources(seed)
    keys = sorted(smap)
    nodes = {}
    for v in range(tree.n_nodes):
        r = rng.random()
        if r > 0.45:
            continue
        ann: dict = {"supported_by": {k: f"node{rng.randint(1, 9999)}"
                                      for k in rng.sample(keys, rng.randint(1, 3))}}
        if r < 0.08:
            ann["conflicts_with"] = {rng.choice(keys): [f"node{rng.randint(1, 9999)}"
                                                        for _ in range(rng.randint(1, 3))]}
        if r < 0.04:
            ann["resolves"] = {rng.choice(keys): f"node{rng.randint(1, 9999)}"}
        if not tree.children[v] and r < 0.2:
            ann["terminal"] = {rng.choice(keys): f"node{rng.randint(1, 9999)}"}
        nodes[tree.ids[v]] = ann
    return {
        "tree_id": f"opentree{seed % 100}.{seed // 100}",
        "root_ott_id": tree.ott[0],
        "taxonomy_version": TAXONOMY_VERSION,
        "date_completed": "2026-01-01",
        "num_tips": len(tree.tips),
        "num_source_studies": len({b["study_id"] for b in smap.values()}),
        "num_source_trees": len(smap),
        "filtered_flags": ["major_rank_conflict", "viral"],
        "sources": keys,
        "source_id_map": smap,
        "nodes": nodes,
    }


def taxonomy_rows(tree: Tree):
    """(uid, parent_uid, name, rank, sourceinfo, uniqname) for every taxon
    node of the tree plus the spare (unused) taxa."""
    for v in range(tree.n_nodes):
        uid = tree.ott[v]
        if uid is None:
            continue
        p = tree.parent[v]
        while p >= 0 and tree.ott[p] is None:
            p = tree.parent[p]
        rank = "species" if not tree.children[v] else "no rank"
        yield uid, (tree.ott[p] if p >= 0 else ""), taxon_name(uid), rank, \
            f"ncbi:{uid % 99991},gbif:{uid % 7919}", ""
    for uid in tree.spare_uids:
        yield uid, tree.ott[0], taxon_name(uid), "species", f"ncbi:{uid % 99991}", \
            f"{taxon_name(uid)} (spare)"


def write_inputs(tree: Tree, seed: int, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "newick": os.path.join(out_dir, "tree.tre"),
        "annotations": os.path.join(out_dir, "annotations.json"),
        "taxonomy": os.path.join(out_dir, "taxonomy.tsv"),
    }
    with open(paths["newick"], "w") as fh:
        fh.write(tree.newick())
    with open(paths["annotations"], "w") as fh:
        json.dump(annotations(tree, seed), fh)
    with open(paths["taxonomy"], "w") as fh:
        fh.write("uid\t|\tparent_uid\t|\tname\t|\trank\t|\tsourceinfo\t|\tuniqname\t|\tflags\t|\t\n")
        for row in taxonomy_rows(tree):
            fh.write("\t|\t".join(str(x) for x in row) + "\t|\t\t|\t\n")
    return paths
