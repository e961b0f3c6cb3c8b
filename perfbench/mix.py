"""Seeded request mixes for the serving workloads.

A request is a dict: ``kind`` (the v3 route), ``path``, ``body`` and
``expect`` (what check.check_answer needs to judge the answer). Route
counts are fixed shares of the request count, so seeds change which ids
are asked about, not how much of each route a run serves.
"""

from __future__ import annotations

import random

from gen import Tree

V3 = "/v3/tree_of_life/"

# point-phase shares of the unique (non-hot) requests
POINT_SHARES = {
    "node_info": 12,
    "node_info_lineage": 10,
    "mrca": 20,
    "induced_subtree": 15,
    "subtree_newick": 15,
    "subtree_arguson": 8,
    "about": 5,
    "bad_node_info": 5,
    "bad_mrca": 5,
    "bad_induced": 5,
}
HOT_SHARE = 0.2
HOT_REPEATS = 3  # sends per hot body; the pool stays far under the 256-entry cache
# Sizes cycle through these strata, so a run's work depends little on the seed.
ID_COUNTS = (2, 5, 10, 20, 50, 100, 3)
CLADE_TIPS = ((20, 60), (60, 200), (200, 1000))
ARGUSON = ((4, 50, 1), (20, 200, 2))

BULK_MIN_IDS = 5001  # above graph.traversal.DRIVER_PATH_MAX_TIPS: the join tier


def _allocate(n: int, shares: dict[str, int]) -> list[str]:
    """n kinds in the given shares (largest remainder), unshuffled."""
    total = sum(shares.values())
    exact = {k: n * w / total for k, w in shares.items()}
    counts = {k: int(x) for k, x in exact.items()}
    for k in sorted(exact, key=lambda k: counts[k] - exact[k])[: n - sum(counts.values())]:
        counts[k] += 1
    return [k for k in shares for _ in range(counts[k])]


def _clade_tips(tree: Tree, rng: random.Random, k: int) -> list[int]:
    """k distinct tips from the smallest clade above a random tip that has
    at least 2k tips (the whole tree if none)."""
    v = rng.choice(tree.tips)
    while tree.parent[v] >= 0 and tree.num_tips(v) < 2 * k:
        v = tree.parent[v]
    pool = tree.tips[tree.tip_lo[v]:tree.tip_hi[v] + 1]
    return rng.sample(pool, min(k, len(pool)))


def _clade(tree: Tree, rng: random.Random, lo: int, hi: int) -> int:
    """A random internal node with lo..hi tips."""
    while True:
        v = rng.choice(tree.tips)
        while tree.parent[v] >= 0 and tree.num_tips(v) < lo:
            v = tree.parent[v]
        if lo <= tree.num_tips(v) <= hi:
            return v


def _ids_body(tree: Tree, rng: random.Random, tips: list[int]) -> dict:
    """Half the id-set requests name tips by node_id, half by ott_id."""
    if rng.random() < 0.5:
        return {"node_ids": [tree.ids[v] for v in tips]}
    return {"ott_ids": [tree.ott[v] for v in tips]}


def _req(kind: str, body: dict, **expect) -> dict:
    return {"kind": kind, "path": V3 + kind, "body": body, "expect": expect}


def point_request(tree: Tree, rng: random.Random, what: str, k: int) -> dict:
    """The k-th request of kind ``what``."""
    if what == "about":
        return _req("about", {})
    if what in ("node_info", "node_info_lineage"):
        lineage = what == "node_info_lineage"
        v = rng.randrange(tree.n_nodes)
        if tree.ott[v] is not None and rng.random() < 0.5:
            body = {"ott_id": tree.ott[v]}
        else:
            body = {"node_id": tree.ids[v]}
        if lineage:
            body["include_lineage"] = True
        return _req("node_info", body, node=tree.ids[v], lineage=lineage)
    if what in ("mrca", "induced_subtree"):
        tips = _clade_tips(tree, rng, ID_COUNTS[k % len(ID_COUNTS)])
        body = _ids_body(tree, rng, tips)
        if what == "induced_subtree" and rng.random() < 0.5:
            body["label_format"] = "id"
        return _req(what, body, good=[tree.ids[v] for v in tips])
    if what == "subtree_newick":
        v = _clade(tree, rng, *CLADE_TIPS[k % len(CLADE_TIPS)])
        body = {"node_id": tree.ids[v]}
        if rng.random() < 0.5:
            body["label_format"] = "id"
        return _req("subtree", body, node=tree.ids[v])
    if what == "subtree_arguson":
        lo, hi, height = ARGUSON[k % len(ARGUSON)]
        v = _clade(tree, rng, lo, hi)
        return _req("subtree", {"node_id": tree.ids[v], "format": "arguson",
                                "height_limit": height}, node=tree.ids[v], height=height)
    if what == "bad_node_info":
        bad = f"ott{rng.randrange(1, 9999)}"
        return _req("node_info", {"node_id": bad}, status=400, message=(
            "Could not find any synthetic tree node corresponding to the "
            f"'node_id' arg: '{bad}'."))
    if what in ("bad_mrca", "bad_induced"):
        kind = "mrca" if what == "bad_mrca" else "induced_subtree"
        tips = _clade_tips(tree, rng, ID_COUNTS[k % len(ID_COUNTS)])
        bad = [f"mrcaott{rng.randrange(1, 9999)}ott{rng.randrange(1, 9999)}"
               for _ in range(rng.randint(1, 3))]
        body = {"node_ids": [tree.ids[v] for v in tips] + bad}
        return _req(kind, body, status=400, good=[tree.ids[v] for v in tips],
                    node_ids_not_in_tree=bad, message="Some ids not found or not in tree.")
    raise ValueError(what)


def _requests(tree: Tree, rng: random.Random, kinds: list[str]) -> list[dict]:
    seen: dict[str, int] = {}
    out = []
    for w in kinds:
        seen[w] = seen.get(w, -1) + 1
        out.append(point_request(tree, rng, w, seen[w]))
    return out


def point_requests(tree: Tree, seed: int, n: int) -> list[dict]:
    """n requests: about a fifth repeat bodies from a small hot pool, the
    rest are unique. The order of kinds is the same for every seed; the
    seed picks the ids."""
    rng = random.Random(seed * 1009 + 11)
    n_hot = round(n * HOT_SHARE)
    unique = _requests(tree, rng, _allocate(n - n_hot, POINT_SHARES))
    pool = _requests(tree, rng, _allocate(max(1, n_hot // HOT_REPEATS), POINT_SHARES))
    hot = [dict(pool[i % len(pool)], hot=True) for i in range(n_hot)]
    order = list(range(n))
    random.Random(n).shuffle(order)
    reqs = unique + hot
    return [reqs[i] for i in order]


def point_schedule(n: int, seconds: float) -> list[float]:
    """Due times of n requests over ``seconds``: one fixed draw of a Poisson
    process (sorted uniform times), the same for every seed, so runs differ
    in what is asked, not in how bursty the traffic is."""
    rng = random.Random(n)
    return sorted(rng.uniform(0, seconds) for _ in range(n))


def warmup_requests(tree: Tree, seed: int) -> list[dict]:
    """Two requests of each point kind, none of them in the measured mix:
    the first requests a fresh server answers are several times slower."""
    rng = random.Random(seed * 1009 + 17)
    return _requests(tree, rng, [w for w in POINT_SHARES for _ in range(2)])


def bulk_requests(tree: Tree, seed: int) -> list[dict]:
    """The large requests: newick of the root and of another large clade,
    and mrca and induced_subtree over more tips than the driver tier takes."""
    rng = random.Random(seed * 1009 + 13)
    lo = min(BULK_MIN_IDS, len(tree.tips) // 2)  # small trees: the self-test
    hi = min(len(tree.tips), 2 * BULK_MIN_IDS)
    reqs = [_req("subtree", {"node_id": tree.ids[0]}, node=tree.ids[0])]
    v = _clade(tree, rng, len(tree.tips) // 8, len(tree.tips) // 2)
    reqs.append(_req("subtree", {"node_id": tree.ids[v], "label_format": "id"},
                     node=tree.ids[v]))
    for kind in ("mrca", "induced_subtree"):
        tips = rng.sample(tree.tips, rng.randint(lo, hi))
        reqs.append(_req(kind, _ids_body(tree, rng, tips), good=[tree.ids[v] for v in tips]))
    return reqs
