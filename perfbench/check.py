"""Answer checks against the generator's own tree (perfbench/gen.py).

Every check is computed from the parent array and the generated input
files, never from the program's code, so a wrong answer cannot agree with
itself. The headline suite's answers are checked against the repository's
DuckDB oracles instead. Each ``check_*`` returns None when the answer is
right and a short reason when it is not, except ``check_store``, which
returns a list of problems.
"""

from __future__ import annotations

import bisect
import json
import os
import re

from gen import TAXONOMY_VERSION, Tree, annotations

_OTT_SUFFIX = re.compile(r"(?:^|_)ott([0-9]+)$")


# ----------------------------------------------------------------------
# newick
# ----------------------------------------------------------------------
def parse_newick(text: str) -> tuple[list[int], list[str]]:
    """(parent, label) arrays of a newick string, node 0 the root; quoted
    labels are unquoted, branch lengths dropped."""
    parent: list[int] = [-1]
    label = [""]
    stack: list[int] = []
    cur = 0
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "(":
            parent.append(cur)
            label.append("")
            stack.append(cur)
            cur = len(parent) - 1
            i += 1
            continue
        if ch == ",":
            parent.append(stack[-1])
            label.append("")
            cur = len(parent) - 1
            i += 1
            continue
        if ch == ")":
            cur = stack.pop()
            i += 1
            continue
        if ch == ";":
            break
        if ch == ":":
            i += 1
            while i < n and text[i] not in ",);":
                i += 1
            continue
        if ch == "'":
            j, buf = i + 1, []
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        buf.append("'")
                        j += 2
                        continue
                    break
                buf.append(text[j])
                j += 1
            label[cur] = "".join(buf)
            i = j + 1
            continue
        j = i
        while j < n and text[j] not in "(),:;'":
            j += 1
        label[cur] = text[i:j].strip()
        i = j
    return parent, label


def tree_from_newick(text: str, names: dict[int, str]) -> Tree:
    """A Tree from a newick whose nodes are all labelled, ``ott<uid>`` for
    taxa; ``names`` maps uid to taxon name."""
    parent, labels = parse_newick(text)
    children: list[list[int]] = [[] for _ in parent]
    for v, p in enumerate(parent):
        if p >= 0:
            children[p].append(v)
    ott = [int(x[3:]) if x.startswith("ott") else None for x in labels]
    return Tree(parent, children, labels, ott, names)


def newick_clusters(text: str, tree: Tree, query_ranks: list[int]) -> tuple[list[int], set]:
    """(tip ranks, clusters) of a returned newick. A tip label names a node
    by its ``ott<uid>`` id or a ``<name>_ott<uid>`` label; a cluster is the
    (first, last) query-tip rank under an internal node with two or more
    tips, and must be a contiguous run of the sorted query ranks."""
    parent, label = parse_newick(text)
    n = len(parent)
    has_child = [False] * n
    for v in range(1, n):
        has_child[parent[v]] = True
    lo = [None] * n
    hi = [None] * n
    cnt = [0] * n
    tips = []
    for v in range(n):
        if has_child[v]:
            continue
        m = _OTT_SUFFIX.search(label[v])
        node = tree.index.get(f"ott{m.group(1)}") if m else None
        if node is None or tree.children[node]:
            raise ValueError(f"tip label {label[v]!r} is not a tip of the tree")
        r = tree.tip_rank[node]
        tips.append(r)
        lo[v] = hi[v] = r
        cnt[v] = 1
    for v in range(n - 1, 0, -1):  # children are numbered after parents
        p = parent[v]
        if lo[v] is None:
            continue
        cnt[p] += cnt[v]
        lo[p] = lo[v] if lo[p] is None else min(lo[p], lo[v])
        hi[p] = hi[v] if hi[p] is None else max(hi[p], hi[v])
    clusters = set()
    for v in range(n):
        if has_child[v] and cnt[v] >= 2:
            run = bisect.bisect_right(query_ranks, hi[v]) - bisect.bisect_left(query_ranks, lo[v])
            if run != cnt[v]:
                raise ValueError("a returned clade is not a clade of the tree")
            clusters.add((lo[v], hi[v]))
    return sorted(tips), clusters


def reference_clusters(tree: Tree, query: list[int]) -> tuple[list[int], set]:
    """(tip ranks, clusters) of the tree induced on query tips."""
    ranks = sorted(tree.tip_rank[v] for v in query)
    seen = set()
    for v in query:
        u = tree.parent[v]
        while u >= 0 and u not in seen:
            seen.add(u)
            u = tree.parent[u]
    clusters = set()
    for u in seen:
        i = bisect.bisect_left(ranks, tree.tip_lo[u])
        j = bisect.bisect_right(ranks, tree.tip_hi[u])
        if j - i >= 2:
            clusters.add((ranks[i], ranks[j - 1]))
    return ranks, clusters


def check_newick(tree: Tree, text, query: list[int]) -> str | None:
    if not isinstance(text, str):
        return "no newick"
    want_tips, want = reference_clusters(tree, query)
    try:
        tips, got = newick_clusters(text, tree, want_tips)
    except (ValueError, IndexError) as e:
        return f"newick: {e}"
    if tips != want_tips:
        return f"newick tip set differs ({len(tips)} vs {len(want_tips)} tips)"
    if got != want:
        return f"newick clusters differ ({len(got ^ want)} clusters)"
    return None


# ----------------------------------------------------------------------
# routes
# ----------------------------------------------------------------------
def check_blob(tree: Tree, blob, v: int) -> str | None:
    if not isinstance(blob, dict) or blob.get("node_id") != tree.ids[v]:
        return f"node blob for {tree.ids[v]} names {blob.get('node_id') if isinstance(blob, dict) else blob}"
    if blob.get("num_tips") != tree.num_tips(v):
        return f"num_tips of {tree.ids[v]}: {blob.get('num_tips')} != {tree.num_tips(v)}"
    uid = tree.ott[v]
    taxon = blob.get("taxon")
    if uid is None:
        if taxon is not None:
            return f"{tree.ids[v]} has no taxon but got one"
    elif not taxon or taxon.get("ott_id") != uid or taxon.get("name") != tree.taxon_name(uid):
        return f"taxon of {tree.ids[v]} wrong"
    return None


def check_node_info(tree: Tree, resp: dict, v: int, lineage: bool) -> str | None:
    bad = check_blob(tree, resp, v)
    if bad or not lineage:
        return bad
    got = resp.get("lineage")
    want = tree.lineage(v)
    if not isinstance(got, list) or len(got) != len(want):
        return f"lineage length {len(got) if isinstance(got, list) else got} != {len(want)}"
    for blob, u in zip(got, want):
        bad = check_blob(tree, blob, u)
        if bad:
            return "lineage: " + bad
    return None


def nearest_taxon(tree: Tree, v: int) -> int:
    while tree.ott[v] is None:
        v = tree.parent[v]
    return v


def check_mrca(tree: Tree, resp: dict, query: list[int]) -> str | None:
    want = tree.mrca(query)
    bad = check_blob(tree, resp.get("mrca"), want)
    if bad:
        return "mrca: " + bad
    if tree.ott[want] is None:
        t = nearest_taxon(tree, want)
        if (resp.get("nearest_taxon") or {}).get("ott_id") != tree.ott[t]:
            return "nearest_taxon wrong"
    return None


def check_arguson(tree: Tree, resp: dict, q: int, height: int) -> str | None:
    stack = [(resp.get("arguson"), q, 0)]
    while stack:
        blob, v, d = stack.pop()
        bad = check_blob(tree, blob, v)
        if bad:
            return "arguson: " + bad
        kids = blob.get("children", [])
        want = tree.children[v] if d < height else []
        if [k.get("node_id") for k in kids] != [tree.ids[c] for c in want]:
            return f"arguson children of {tree.ids[v]} differ"
        stack.extend((k, c, d + 1) for k, c in zip(kids, want))
    lineage = resp["arguson"].get("lineage")
    if [b.get("node_id") for b in lineage or []] != [tree.ids[u] for u in tree.lineage(q)]:
        return "arguson lineage differs"
    return None


def check_about(tree: Tree, resp: dict, meta: dict) -> str | None:
    if resp.get("synth_id") != meta["tree_id"]:
        return "about synth_id"
    if resp.get("taxonomy_version") != meta["taxonomy_version"]:
        return "about taxonomy_version"
    return check_blob(tree, resp.get("root"), 0)


def check_answer(tree: Tree, meta: dict, req: dict, status: int, resp) -> str | None:
    """Check one HTTP answer against the request's expectation ``req['expect']``."""
    kind, exp = req["kind"], req["expect"]
    if exp.get("status", 200) != status:
        return f"status {status}, expected {exp.get('status', 200)}"
    if not isinstance(resp, dict):
        return "body is not a JSON object"
    if status == 400:
        if "message" in exp and resp.get("message") != exp["message"]:
            return f"400 message {resp.get('message')!r}"
        for key in ("node_ids_not_in_tree", "ott_ids_not_in_tree"):
            if key in exp and resp.get(key) != exp[key]:
                return f"400 payload {key} differs"
        if kind == "mrca":
            return check_mrca(tree, resp, [tree.index[i] for i in exp["good"]])
        if kind == "induced_subtree":
            return check_newick(tree, resp.get("newick"), [tree.index[i] for i in exp["good"]])
        return None
    if kind == "about":
        return check_about(tree, resp, meta)
    if kind == "node_info":
        return check_node_info(tree, resp, tree.index[exp["node"]], exp["lineage"])
    if kind == "mrca":
        return check_mrca(tree, resp, [tree.index[i] for i in exp["good"]])
    if kind == "induced_subtree":
        return check_newick(tree, resp.get("newick"), [tree.index[i] for i in exp["good"]])
    if kind == "subtree":
        q = tree.index[exp["node"]]
        if "height" in exp:
            return check_arguson(tree, resp, q, exp["height"])
        return check_newick(tree, resp.get("newick"),
                            [t for t in tree.tips[tree.tip_lo[q]:tree.tip_hi[q] + 1]])
    return f"unknown request kind {kind}"


# ----------------------------------------------------------------------
# ingest
# ----------------------------------------------------------------------
def _table(store: str, name: str):
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(store, name), format="parquet",
                      partitioning="hive").to_table()


def check_store(tree: Tree, seed: int, store: str) -> list[str]:
    """Every table of a written store against the generated inputs: exact
    node, edge and closure-row counts (and per-node closure depth sums),
    the root id, every edge's tip_descendants, every taxon's name, and
    each node's supported_by map including the ott<version> support key."""
    problems = []
    with open(os.path.join(store, "tree_meta.json")) as fh:
        meta = json.load(fh)
    if meta.get("root_id") != tree.ids[0]:
        problems.append(f"root_id {meta.get('root_id')} != {tree.ids[0]}")

    nodes = _table(store, "nodes").to_pydict()
    if len(nodes["node_id"]) != tree.n_nodes or set(nodes["node_id"]) != set(tree.ids):
        problems.append(f"nodes: {len(nodes['node_id'])} rows, {tree.n_nodes} expected")
    for nid, ott, name, leaf in zip(nodes["node_id"], nodes["ott_id"], nodes["name"],
                                    nodes["is_leaf"]):
        v = tree.index.get(nid)
        if v is None:
            continue
        uid = tree.ott[v]
        if ott != uid or leaf != (not tree.children[v]) or \
                name != (tree.taxon_name(uid) if uid is not None else None):
            problems.append(f"node row {nid} wrong")
            break

    edges = _table(store, "edges").to_pydict()
    if len(edges["child_id"]) != tree.n_nodes - 1 or \
            set(edges["child_id"]) != set(tree.ids[1:]):
        problems.append(f"edges: {len(edges['child_id'])} rows, {tree.n_nodes - 1} expected, "
                        "one per non-root node")
    for c, p, td in zip(edges["child_id"], edges["parent_id"], edges["tip_descendants"]):
        v = tree.index.get(c)
        if v is None or v == 0 or tree.ids[tree.parent[v]] != p or td != tree.num_tips(v):
            problems.append(f"edge row {c}->{p} (tip_descendants {td}) wrong")
            break

    import pyarrow.compute as pc

    paths = _table(store, "paths")
    if paths.num_rows != tree.closure_rows():
        problems.append(f"paths: {paths.num_rows} rows, {tree.closure_rows()} expected")
    per_node = paths.group_by("node_id").aggregate([("depth", "sum"), ("depth", "max")])
    want_sum = {tree.ids[v]: d * (d + 1) // 2 for v, d in enumerate(tree.depth) if d}
    got = dict(zip(per_node["node_id"].to_pylist(), per_node["depth_sum"].to_pylist()))
    if got != want_sum:
        problems.append("paths: per-node depth sums differ")
    root_rows = pc.sum(pc.equal(paths["ancestor_id"], tree.ids[0])).as_py()
    if root_rows != tree.n_nodes - 1:
        problems.append(f"paths: {root_rows} rows reach the root, {tree.n_nodes - 1} expected")

    ann = _table(store, "node_annotations").to_pydict()
    gen_ann = annotations(tree, seed)["nodes"]
    tax_key = f"ott{TAXONOMY_VERSION}"
    if len(ann["node_id"]) != tree.n_nodes or set(ann["node_id"]) != set(tree.ids):
        problems.append(f"node_annotations: {len(ann['node_id'])} rows, one per node expected")
    for nid, sup in zip(ann["node_id"], ann["supported_by"]):
        want = dict(gen_ann.get(nid, {}).get("supported_by", {}))
        if nid.startswith("ott"):
            want[tax_key] = nid
        if dict(sup or []) != want:
            problems.append(f"supported_by of {nid} differs")
            break
    return problems


# ----------------------------------------------------------------------
# the headline suite
# ----------------------------------------------------------------------
def check_suite_answer(df, oracle_sql: str, data: str, expected_rows: int) -> str | None:
    """A suite query's full result against its DuckDB oracle with the
    repository's comparator (tests/oracle_check.compare: columns, types and
    the order-insensitive multiset of rounded values, every row), then its
    row count against bench.EXPECTED_ROWS as a separate tripwire. The
    caller puts tests/ on sys.path."""
    from oracle_check import compare

    ok, msg = compare(df, oracle_sql, data)
    if not ok:
        return msg
    n = df.count()
    return None if n == expected_rows else f"{n} rows, expected {expected_rows}"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
