"""Catalyst-visible closure layout (VERDICT r3 #10): the persisted paths
store partitioned by tree and bucketed by node_id must show partition
pruning AND Exchange-free co-bucketed joins in the physical plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from treemachine_spark.graph.traversal import leaf_set
from treemachine_spark.ingest import (
    GraphStore,
    write_bucketed_closure,
    write_bucketed_leaves,
)
from treemachine_spark.sources.newick import newick_to_dataframes
from treemachine_spark.graph.closure import build_closure


def _store(spark, tree_id: str, newick: str) -> GraphStore:
    nodes, edges = newick_to_dataframes(spark, newick, tree_id)
    paths = build_closure(edges.select("child_id", "parent_id"))
    empty = spark.createDataFrame([], "node_id string")
    return GraphStore(
        tree_id=tree_id,
        root_id="root",
        nodes=nodes,
        edges=edges,
        paths=paths,
        node_annotations=empty,
        source_map=spark.createDataFrame([], "source_id string"),
        tree_meta={},
    )


@pytest.fixture(scope="module")
def bucketed(spark):
    s1 = _store(spark, "synthA", "((a1,a2)i1,(a3,a4)i2)root;")
    s2 = _store(spark, "synthB", "(((b1,b2)j1,b3)j2,b4)root;")
    write_bucketed_closure([s1, s2], table="t_paths_bkt", buckets=4)
    write_bucketed_leaves([s1, s2], table="t_leaves_bkt", buckets=4)
    yield "t_paths_bkt", "t_leaves_bkt"
    spark.sql("DROP TABLE IF EXISTS t_paths_bkt")
    spark.sql("DROP TABLE IF EXISTS t_leaves_bkt")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_pruning_visible(spark, bucketed):
    paths_t, _ = bucketed
    one = spark.table(paths_t).where(F.col("synth_id") == "synthA")
    plan = _plan(one)
    assert "PartitionFilters: [" in plan and "synth_id" in plan
    # only tree A's rows are read: every node id is an a/i/root id
    assert one.where(F.col("node_id").startswith("b")).count() == 0
    assert one.count() > 0


def test_cobucketed_join_is_exchange_free(spark, bucketed):
    paths_t, leaves_t = bucketed
    p = spark.table(paths_t).where(F.col("synth_id") == "synthA")
    l = spark.table(leaves_t).where(F.col("synth_id") == "synthA").select("node_id")
    # merge hint: at test scale Catalyst would broadcast the tiny side
    # (hiding the point); at 100 TB both sides are fact-scale and SMJ is
    # what bucketing serves — with matching bucket layout it needs NO
    # Exchange on either side
    joined = p.hint("merge").join(l.hint("merge"), "node_id")
    plan = _plan(joined)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan  # bucket layout replaces the shuffle
    assert "Bucketed: true" in plan, plan


def test_bucketed_tip_counts_match_direct(spark, bucketed):
    paths_t, leaves_t = bucketed
    p = spark.table(paths_t).where(F.col("synth_id") == "synthB").drop("synth_id")
    l = (
        spark.table(leaves_t)
        .where(F.col("synth_id") == "synthB")
        .select("node_id")
    )
    got = {
        (r["ancestor_id"], r["tip_descendants"])
        for r in p.join(l, "node_id")
        .groupBy("ancestor_id")
        .agg(F.count("*").alias("tip_descendants"))
        .collect()
    }
    s2 = _store(spark, "synthB", "(((b1,b2)j1,b3)j2,b4)root;")
    want = {
        (r["ancestor_id"], r["tip_descendants"])
        for r in s2.paths.join(leaf_set(s2.edges), "node_id")
        .groupBy("ancestor_id")
        .agg(F.count("*").alias("tip_descendants"))
        .collect()
    }
    assert got == want


def test_inset_bucket_pruning_visible(spark, bucketed):
    """The node_id bucket layout doubles as a request-time index: an InSet
    filter for tip ids reads only the buckets those ids hash to (the
    auto-bucketed-scan rule only credits joins/aggs, so the scoped conf in
    read_pruned_closure re-enables the bucketed scan for filters)."""
    paths_t, _ = bucketed
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        q = spark.table(paths_t).where(F.col("node_id").isin(["a1", "a2"]))
        plan = _plan(q)
    finally:
        spark.conf.set(key, prev)
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) < int(m.group(2)), plan


def test_mrca_over_pruned_closure_matches(spark, bucketed):
    from treemachine_spark.graph.closure import with_self_paths
    from treemachine_spark.graph.traversal import mrca
    from treemachine_spark.ingest import read_pruned_closure

    paths_t, _ = bucketed
    s1 = _store(spark, "synthA", "((a1,a2)i1,(a3,a4)i2)root;")
    paths_self = with_self_paths(s1.paths, s1.nodes)
    tips = ["a1", "a3"]
    want = [tuple(r) for r in mrca(paths_self, tips).collect()]
    pruned = read_pruned_closure(spark, paths_t, tips, synth_id="synthA")
    # pruned fetch returns exactly the request rows
    assert {r["node_id"] for r in pruned.collect()} == set(tips)
    got = [
        tuple(r)
        for r in mrca(paths_self, tips, paths=pruned, root_id="root").collect()
    ]
    assert got == want
    assert got[0][0] == "root"


def test_one_file_per_partition_bucket(spark, bucketed):
    paths_t, _ = bucketed
    import glob
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    pdirs = glob.glob(os.path.join(wh, "t_paths_bkt", "synth_id=*"))
    assert len(pdirs) == 2
    for d in pdirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        # aligned repartition: at most one file per bucket
        assert 0 < len(files) <= 4, (d, files)
