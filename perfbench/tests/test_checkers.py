"""Self-test of the benchmark's generator and answer checks.

    python3 -m pytest perfbench/tests -q

The checks must accept the program's real answers (on the repository's
fixture tree and on a small generated tree) and reject corrupted ones, so
a checker bug can neither fail a correct program nor pass a wrong one.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
FIXTURES = os.path.join(ROOT, "tests", "fixtures")
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import mix  # noqa: E402

SEED = 5


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from treemachine_spark.session import get_spark

    return get_spark("perfbench-tests")


@pytest.fixture(scope="module")
def generated(spark, tmp_path_factory):
    """A small generated tree, ingested by the program, served in-process."""
    from treemachine_spark.api.server import ServerCore
    from treemachine_spark.ingest import ingest_synthesis_data

    tree = gen.make_tree(SEED, 200)
    d = tmp_path_factory.mktemp("gen")
    paths = gen.write_inputs(tree, SEED, str(d / "inputs"))
    store_dir = str(d / "store")
    store = ingest_synthesis_data(spark, paths["newick"], paths["annotations"],
                                  paths["taxonomy"], store_dir)
    return tree, gen.annotations(tree, SEED), store_dir, ServerCore(store, cache_size=0)


@pytest.fixture(scope="module")
def fixture_tree(spark):
    """The repository's fixture tree, ingested by the program."""
    from treemachine_spark.api.server import ServerCore
    from treemachine_spark.ingest import ingest_synthesis_data

    with open(os.path.join(FIXTURES, "labelled_supertree.tre")) as fh:
        newick = fh.read()
    names = {}
    with open(os.path.join(FIXTURES, "taxonomy.tsv")) as fh:
        for line in list(fh)[1:]:
            cols = [c.strip() for c in line.split("|")]
            names[int(cols[0])] = cols[2]
    with open(os.path.join(FIXTURES, "annotations.json")) as fh:
        meta = json.load(fh)
    store = ingest_synthesis_data(
        spark, os.path.join(FIXTURES, "labelled_supertree.tre"),
        os.path.join(FIXTURES, "annotations.json"), os.path.join(FIXTURES, "taxonomy.tsv"))
    return check.tree_from_newick(newick, names), meta, ServerCore(store, cache_size=0)


def answer(core, req):
    status, resp = core.handle(req["path"], req["body"])
    return status, json.loads(json.dumps(resp))  # as a client would decode it


def test_generator_is_deterministic_per_seed(tmp_path):
    def files(seed, name):
        paths = gen.write_inputs(gen.make_tree(seed, 300), seed, str(tmp_path / name))
        out = {}
        for k, p in paths.items():
            with open(p, "rb") as fh:
                out[k] = fh.read()
        return out

    assert files(3, "a") == files(3, "b")
    assert files(3, "a")["newick"] != files(4, "c")["newick"]
    t = gen.make_tree(3, 300)
    assert mix.point_requests(t, 9, 40) == mix.point_requests(t, 9, 40)
    assert mix.bulk_requests(t, 9) == mix.bulk_requests(t, 9)


def test_generated_tree_shape():
    tree = gen.make_tree(1, 3000)
    shape = tree.shape()
    assert shape["tips"] >= 3000
    assert shape["mean_tip_depth"] > 10  # deep, unlike a balanced tree
    assert all(len(c) != 1 for c in tree.children)  # no unary nodes
    assert len(set(tree.ids)) == tree.n_nodes


def fixture_requests(tree):
    V3 = mix.V3
    tips = [tree.ids[v] for v in tree.tips]
    reqs = [{"kind": "about", "path": V3 + "about", "body": {}, "expect": {}}]
    for v in range(tree.n_nodes):
        for lineage in (False, True):
            reqs.append({"kind": "node_info", "path": V3 + "node_info",
                         "body": {"node_id": tree.ids[v], "include_lineage": lineage},
                         "expect": {"node": tree.ids[v], "lineage": lineage}})
        if tree.children[v]:
            reqs.append({"kind": "subtree", "path": V3 + "subtree",
                         "body": {"node_id": tree.ids[v]}, "expect": {"node": tree.ids[v]}})
            reqs.append({"kind": "subtree", "path": V3 + "subtree",
                         "body": {"node_id": tree.ids[v], "format": "arguson",
                                  "height_limit": 1},
                         "expect": {"node": tree.ids[v], "height": 1}})
    for ids in (tips[:2], tips[1:3], tips):
        for kind in ("mrca", "induced_subtree"):
            reqs.append({"kind": kind, "path": V3 + kind, "body": {"node_ids": ids},
                         "expect": {"good": ids}})
    reqs.append({"kind": "mrca", "path": V3 + "mrca", "body": {"node_ids": tips[:2] + ["ott1"]},
                 "expect": {"status": 400, "good": tips[:2], "node_ids_not_in_tree": ["ott1"],
                            "message": "Some ids not found or not in tree."}})
    return reqs


def test_checkers_accept_fixture_answers(fixture_tree):
    tree, meta, core = fixture_tree
    for req in fixture_requests(tree):
        status, resp = answer(core, req)
        assert check.check_answer(tree, meta, req, status, resp) is None, req


def test_checkers_accept_generated_answers(generated):
    tree, meta, store_dir, core = generated
    assert check.check_store(tree, SEED, store_dir) == []
    reqs = (mix.point_requests(tree, SEED, 60) + mix.warmup_requests(tree, SEED)
            + mix.bulk_requests(tree, SEED))
    kinds = set()
    for req in reqs:
        status, resp = answer(core, req)
        assert check.check_answer(tree, meta, req, status, resp) is None, req
        kinds.add((req["kind"], status))
    assert {k for k, _ in kinds} == {"about", "node_info", "mrca", "subtree", "induced_subtree"}
    assert ("node_info", 400) in kinds and ("mrca", 400) in kinds


def to_newick(parent, labels) -> str:
    children = [[] for _ in parent]
    for v, p in enumerate(parent):
        if p >= 0:
            children[p].append(v)

    def render(v):
        inner = ",".join(render(c) for c in children[v])
        return (f"({inner})" if children[v] else "") + f"'{labels[v]}'"

    return render(0) + ";"


def swap_outer_tips(resp):
    """Swap the first and last tips of the newick: same tips, other clades."""
    parent, labels = check.parse_newick(resp["newick"])
    leaves = [v for v in range(1, len(parent)) if v not in parent]
    a, b = leaves[0], leaves[-1]
    labels[a], labels[b] = labels[b], labels[a]
    resp["newick"] = to_newick(parent, labels)


def test_checkers_reject_corrupted_answers(generated):
    tree, meta, _, core = generated
    reqs = mix.point_requests(tree, SEED, 60)

    def pick(kind, pred=lambda e: True):
        return next(r for r in reqs if r["kind"] == kind and pred(r["expect"]))

    def rejects(req, corrupt, status=None):
        st, resp = answer(core, req)
        assert check.check_answer(tree, meta, req, st, resp) is None
        bad = copy.deepcopy(resp)
        corrupt(bad)
        return check.check_answer(tree, meta, req, status or st, bad) is not None

    ok = lambda e: "status" not in e  # noqa: E731
    # induced_subtree: a tip moved is wrong; an extra unary ("knuckle")
    # level is not
    req = pick("induced_subtree", lambda e: ok(e) and len(e["good"]) >= 5)
    assert not rejects(req, lambda r: r.update(newick=to_newick(*check.parse_newick(r["newick"]))))
    assert rejects(req, swap_outer_tips)
    assert not rejects(req, lambda r: r.update(newick="(" + r["newick"][:-1] + ");"))
    # subtree newick: a tip moved
    req = pick("subtree", lambda e: "height" not in e)
    assert rejects(req, swap_outer_tips)
    # arguson: a child dropped
    req = pick("subtree", lambda e: "height" in e)
    assert rejects(req, lambda r: r["arguson"]["children"].pop())
    # mrca: another node named
    req = pick("mrca", ok)
    assert rejects(req, lambda r: r["mrca"].update(node_id=tree.ids[tree.tips[0]]))
    # node_info: tip count off by one; lineage out of order
    req = pick("node_info", lambda e: e.get("lineage") and len(
        tree.lineage(tree.index[e["node"]])) >= 2)
    assert rejects(req, lambda r: r.update(num_tips=r["num_tips"] + 1))
    assert rejects(req, lambda r: r["lineage"].reverse())
    # a 400 answered as 200, or with another message
    req = pick("node_info", lambda e: "status" in e)
    assert rejects(req, lambda r: None, status=200)
    assert rejects(req, lambda r: r.update(message="no"))


def rewrite_table(store: str, name: str, change) -> None:
    """Replace one table of a store with ``change`` applied to it."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    table = ds.dataset(os.path.join(store, name), format="parquet").to_table()
    shutil.rmtree(os.path.join(store, name))
    os.makedirs(os.path.join(store, name))
    pq.write_table(change(table), os.path.join(store, name, "part-0.parquet"))


def duplicate_first_drop_last(table):
    """Same row count: the first row twice, the last row gone."""
    import pyarrow as pa

    return pa.concat_tables([table.slice(0, 1), table.slice(0, table.num_rows - 1)])


def test_check_store_rejects_corrupted_store(generated, tmp_path):
    tree, _, store_dir, _ = generated
    bad = str(tmp_path / "store")
    shutil.copytree(store_dir, bad)
    rewrite_table(bad, "paths", lambda t: t.slice(1))
    problems = check.check_store(tree, SEED, bad)
    assert any(p.startswith("paths") for p in problems)

    with open(os.path.join(bad, "tree_meta.json")) as fh:
        meta = json.load(fh)
    meta["root_id"] = tree.ids[1]
    with open(os.path.join(bad, "tree_meta.json"), "w") as fh:
        json.dump(meta, fh)
    assert any(p.startswith("root_id") for p in check.check_store(tree, SEED, bad))


@pytest.mark.parametrize("table", ["edges", "node_annotations"])
def test_check_store_rejects_duplicated_rows(generated, tmp_path, table):
    # every row still valid on its own and the count unchanged, but one
    # node covered twice and another not at all
    tree, _, store_dir, _ = generated
    bad = str(tmp_path / "store")
    shutil.copytree(store_dir, bad)
    assert check.check_store(tree, SEED, bad) == []
    rewrite_table(bad, table, duplicate_first_drop_last)
    assert any(p.startswith(table) for p in check.check_store(tree, SEED, bad))


def test_suite_check_accepts_answer_and_rejects_corrupted(spark):
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from bench import EXPECTED_ROWS
    from treemachine_spark.workload.oracles import ORACLES
    from treemachine_spark.workload.queries import QUERIES

    from program import SUITE_DATA, SUITE_SF

    q = "q5_region_revenue"
    want = EXPECTED_ROWS[SUITE_SF][q]
    df = QUERIES[q](spark, SUITE_DATA)
    assert check.check_suite_answer(df, ORACLES[q], SUITE_DATA, want) is None
    # one row missing; one value changed
    assert check.check_suite_answer(df.limit(want - 1), ORACLES[q], SUITE_DATA, want)
    changed = df.withColumn("revenue", F.col("revenue") + F.lit(1))
    assert check.check_suite_answer(changed, ORACLES[q], SUITE_DATA, want)
    # the row-count tripwire on its own
    assert check.check_suite_answer(df, ORACLES[q], SUITE_DATA, want + 1)
