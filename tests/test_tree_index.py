"""TreeIndex (graph/tree_index.py) parity: every structural answer the
point routes read from the interval labels must equal the closure recipes
in graph.traversal on random, caterpillar and polytomy trees, and the
served snapshot's index must be rebuilt on swap_store."""

from __future__ import annotations

import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.test_graph_misc import random_tree
from treemachine_spark.api.errors import BadIdsError
from treemachine_spark.api.v3 import TreeOfLifeV3
from treemachine_spark.graph import traversal as T
from treemachine_spark.graph.closure import build_closure, with_self_paths
from treemachine_spark.graph.tree_index import TreeIndex, java_hashmap_order
from treemachine_spark.ingest import GraphStore, ingest_synthesis_data

FIX = Path(__file__).parent / "fixtures"


def caterpillar(n: int):
    """Spine v0-v2-v4-... with one leaf hanging off every spine node."""
    pairs = []
    for i in range(1, n, 2):
        pairs.append((i, i - 1))
        if i + 1 < n:
            pairs.append((i + 1, i - 1))
    return pairs


def polytomy(rng: random.Random, n: int):
    """A 40-way root polytomy whose children carry small random clades."""
    pairs = [(i, 0) for i in range(1, 41)]
    pairs += [(i, rng.randrange(1, i)) for i in range(41, n)]
    return pairs


TREES = {
    "random1": lambda: random_tree(random.Random(1), 70),
    "random7": lambda: random_tree(random.Random(7), 70),
    "caterpillar": lambda: caterpillar(61),
    "polytomy": lambda: polytomy(random.Random(3), 90),
}


def _store(spark, pairs) -> GraphStore:
    """A GraphStore over integer (child, parent) pairs; about 60% of the
    nodes carry a taxon (some names non-ASCII, to pin min/max order)."""
    rng = random.Random(len(pairs))
    n = len(pairs) + 1
    names = {
        i: rng.choice(["Ab", "ab", "Zé", "éa", "b"]) + str(rng.randrange(50))
        for i in range(n)
        if rng.random() < 0.6
    }
    nodes = spark.createDataFrame(
        [
            (f"v{i}", 1000 + i if i in names else None, names.get(i), names.get(i),
             "species", ["ott"], True)
            for i in range(n)
        ],
        "node_id string, ott_id long, name string, unique_name string, rank string, "
        "tax_sources array<string>, is_leaf boolean",
    )
    kids = {}
    for c, p in pairs:
        kids.setdefault(p, []).append(c)
    edges = spark.createDataFrame(
        [(f"v{c}", f"v{p}", None, kids[p].index(c), 1) for c, p in pairs],
        "child_id string, parent_id string, branch_length double, child_index int, "
        "tip_descendants long",
    )
    ann = spark.createDataFrame(
        [(f"v{i}", {f"s{i % 5}@t": "n", f"s{i % 3}@t": "m"}) for i in range(0, n, 4)],
        "node_id string, supported_by map<string,string>",
    ).select(
        "node_id", "supported_by",
        *[F.lit(None).cast(t).alias(f) for f, t in (
            ("conflicts_with", "map<string,array<string>>"),
            ("resolves", "map<string,string>"),
            ("resolved_by", "map<string,array<string>>"),
            ("partial_path_of", "map<string,string>"),
            ("terminal", "map<string,string>"),
        )],
    )
    smap = spark.createDataFrame(
        [(f"s{i}@t", f"s{i}", "t", None) for i in range(5)],
        "source_id string, study_id string, tree_id string, git_sha string",
    )
    paths = build_closure(edges.select("child_id", "parent_id")).localCheckpoint(eager=True)
    return GraphStore(
        tree_id="t", root_id="v0", nodes=nodes, edges=edges, paths=paths,
        node_annotations=ann, source_map=smap, tree_meta={"num_tips": 0},
    )


@pytest.fixture(scope="module", params=sorted(TREES))
def tree(request, spark):
    store = _store(spark, TREES[request.param]())
    idx = TreeIndex.from_store(store)
    return store, idx, with_self_paths(store.paths, store.nodes).localCheckpoint(eager=True)


def _pos(idx, ids):
    return [int(p) for p in idx.positions(ids)]


def test_labels_are_a_preorder_interval_labelling(tree):
    store, idx, _ = tree
    assert idx.n == store.nodes.count() and idx.node_id[idx.root] == "v0"
    for p in range(idx.n):
        par = int(idx.parent[p])
        if par >= 0:
            assert par < p < par + idx.size[par]
            assert idx.depth[p] == idx.depth[par] + 1
    assert int(idx.size[idx.root]) == idx.n


def test_lineage_matches_path_to_root(tree):
    store, idx, _ = tree
    for nid in ("v0", "v1", f"v{idx.n // 2}", f"v{idx.n - 1}"):
        want = [r["ancestor_id"] for r in T.path_to_root(store.paths, nid).collect()]
        got = [idx.node_id[a] for a in idx.lineage(_pos(idx, [nid])[0])]
        assert got == want


def _requests(n: int, seed: int):
    rng = random.Random(seed)
    ids = [f"v{i}" for i in range(n)]
    reqs = [rng.sample(ids, k) for k in (2, 3, 7, 15)]
    reqs.append(["v0", rng.choice(ids[1:])])            # the root
    a = rng.choice(ids[1:])
    reqs.append([a, a, rng.choice(ids)])                # duplicates
    reqs.append(["v1", f"v{n - 1}", "v1"])
    return reqs


def test_mrca_matches_traversal(tree):
    store, idx, paths_self = tree
    for req in _requests(idx.n, 5):
        want = T.mrca(paths_self, req, paths=store.paths, root_id="v0").collect()
        assert idx.node_id[idx.mrca(_pos(idx, req))] == want[0]["mrca_node_id"]


def _nested(idx, seed: int):
    """Requests holding a node together with one of its ancestors."""
    rng = random.Random(seed)
    out = []
    for _ in range(3):
        t = rng.randrange(1, idx.n)
        anc = idx.lineage(t)
        out.append([idx.node_id[t], idx.node_id[rng.choice(anc)], f"v{rng.randrange(idx.n)}"])
    return out


def test_induced_subtree_matches_traversal(tree):
    _, idx, paths_self = tree
    for req in _requests(idx.n, 9) + _nested(idx, 4) + [["v3", "v3"]]:
        want = {(r["child_id"], r["parent_id"]) for r in T.induced_subtree(paths_self, req).collect()}
        child, parent = idx.induced_edges(_pos(idx, req))
        got = [(idx.node_id[c], idx.node_id[p]) for c, p in zip(child, parent)]
        assert len(got) == len(set(got)) and set(got) == want, req


@pytest.mark.parametrize("height_limit", [-1, 0, 1, 2])
def test_subtree_members_and_edges_match_traversal(tree, height_limit):
    store, idx, _ = tree
    parent_of = {r["child_id"]: r["parent_id"] for r in store.edges.collect()}
    for nid in ("v0", "v1", f"v{idx.n // 3}"):
        rows = T.subtree(store.paths, nid, height_limit).collect()
        members = idx.subtree(_pos(idx, [nid])[0], height_limit)
        got = {idx.node_id[m]: int(idx.depth[m]) for m in members}
        d0 = int(idx.depth[_pos(idx, [nid])[0]])
        assert {k: v - d0 for k, v in got.items()} == {r["node_id"]: r["depth"] for r in rows}
        assert {(m, idx.node_id[idx.parent[p]]) for m, p in zip(got, members)} == {
            (r["node_id"], parent_of[r["node_id"]]) for r in rows
        }


def test_descendant_names_match_representative_names(tree):
    store, idx, _ = tree
    want = {
        r["ancestor_id"]: (r["first_name"], r["last_name"])
        for r in T.representative_names(store.paths, store.nodes).collect()
    }
    got = {idx.node_id[p]: idx.descendant_names(p) for p in range(idx.n)}
    assert {k: v for k, v in got.items() if v is not None} == want


def test_api_answers_match_closure_and_launch_no_jobs(tree, spark):
    """The routes over the index: mrca + nearest taxon equal the closure
    answers, unknown ids keep the 400 payload, and no Spark job runs."""
    store, idx, paths_self = tree
    api = TreeOfLifeV3(store)
    sc = spark.sparkContext
    named = store.nodes.where(F.col("ott_id").isNotNull()).select(
        F.col("node_id").alias("ancestor_id")
    )
    answers = []
    sc.setJobGroup("tree-index-api", "index answers")
    try:
        for req in _requests(idx.n, 13):
            answers.append((req, api.mrca(node_ids=req)))
        with pytest.raises(BadIdsError) as ei:
            api.mrca(node_ids=["v1", "nosuch"], ott_ids=[1])
        api.induced_subtree(node_ids=["v1", "v2", "v5"])
        api.node_info(node_id=f"v{idx.n - 1}", include_lineage=True)
        api.subtree(node_id="v0", tree_format="arguson", height_limit=2)
        api.subtree(node_id="v1", label_format="id")
        jobs = sc.statusTracker().getJobIdsForGroup("tree-index-api")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert ei.value.payload["node_ids_not_in_tree"] == ["nosuch"]
    assert ei.value.payload["ott_ids_not_in_tree"] == [1]
    assert ei.value.payload["mrca"]["node_id"] == "v1"
    for req, res in answers:
        m = T.mrca(paths_self, req, paths=store.paths, root_id="v0").collect()[0]["mrca_node_id"]
        assert res["mrca"]["node_id"] == m
        if "taxon" in res["mrca"]:
            assert "nearest_taxon" not in res
            continue
        near = (
            store.paths.where(F.col("node_id") == m).join(named, "ancestor_id")
            .orderBy("depth").limit(1).collect()
        )
        assert res.get("nearest_taxon", {}).get("ott_id") == (
            int(near[0]["ancestor_id"][1:]) + 1000 if near else None
        )


def test_blob_maps_keep_collect_order(spark):
    """Annotation maps come out of the index in the key order collect()
    gives them (java.util.HashMap iteration), so responses stay
    byte-identical to collect-assembled ones."""
    rng = random.Random(2)
    maps = [
        {"".join(rng.choice("abcxyz@_.0123é") for _ in range(rng.randint(1, 9))): str(j)
         for j in range(k)}
        for k in (2, 3, 5, 8, 13, 30, 70)
    ]
    df = spark.createDataFrame([(m,) for m in maps], "m map<string,string>")
    collected = [list(r["m"]) for r in df.collect()]
    stored = [[k for k, _ in m] for m in df.toArrow().column("m").to_pylist()]
    assert [java_hashmap_order(s) for s in stored] == collected


def test_swap_store_serves_from_rebuilt_index(spark, tmp_path):
    """A republished snapshot is served from its own index: after
    swap_store the pruned tip is unknown and the root newick lost it."""
    from treemachine_spark.api.server import ServerCore
    from treemachine_spark.graph.surgery import SurgeryTree

    def ingest(newick_path):
        return ingest_synthesis_data(
            spark, str(newick_path), str(FIX / "annotations.json"), str(FIX / "taxonomy.tsv"),
        )

    t = SurgeryTree.from_newick((FIX / "labelled_supertree.tre").read_text())
    t.prune_external(t.find("ott536234"))
    pruned = tmp_path / "pruned.tre"
    pruned.write_text(t.to_newick(with_bl=False) + ";")

    core = ServerCore(ingest(FIX / "labelled_supertree.tre"), cache_size=0)
    old = core.apis["v3"].index
    body = {"node_id": "ott81461", "label_format": "id"}
    assert "ott536234" in core.handle("/v3/tree_of_life/subtree", body)[1]["newick"]
    core.swap_store(ingest(pruned))
    new = core.apis["v3"].index
    assert new is not old and core.apis["v2"].v3.index is new
    assert new.n < old.n == 7
    assert "ott536234" not in core.handle("/v3/tree_of_life/subtree", body)[1]["newick"]
    assert core.handle("/v3/tree_of_life/node_info", {"ott_id": 536234})[0] == 400


@pytest.mark.parametrize(
    "edges",
    [
        [("a", "r")],                          # c is unreachable: a forest
        [("a", "r"), ("b", "c"), ("c", "b")],  # a cycle below the root
        [("a", "r"), ("b", "a"), ("c", "x")],  # a parent missing from nodes
        [("a", "r"), ("b", "a"), ("b", "r"), ("c", "a")],  # two parents
    ],
)
def test_index_rejects_a_store_that_is_not_one_tree(edges):
    import pyarrow as pa

    nodes = pa.table({
        "node_id": ["r", "a", "b", "c"],
        "ott_id": pa.nulls(4, pa.int64()),
        "name": pa.nulls(4, pa.string()),
    })
    etab = pa.table({
        "child_id": [c for c, _ in edges],
        "parent_id": [p for _, p in edges],
        "child_index": pa.array([0] * len(edges), pa.int32()),
    })
    ann = pa.table({"node_id": pa.array([], pa.string())})
    with pytest.raises(ValueError):
        TreeIndex(nodes, etab, ann, "r")
