"""The process under test: runs the program's ingest, or serves a store
over HTTP, in a fresh interpreter with its own Spark session.

    python3 perfbench/program.py ingest --inputs DIR --out STORE [--trace]
    python3 perfbench/program.py serve --store STORE [--trace]
    python3 perfbench/program.py suite --trace

It reports to its parent as JSON lines on stdout prefixed with
``PERFBENCH``: a ``ready`` event once the session (and for ``serve`` the
store, its cache and the HTTP server; for ``suite`` the query context and
warm tables) is up, and a ``done`` event at the end. ``serve`` runs until
it reads ``stop`` on stdin.

With ``--trace`` it wraps the program's public functions (perfbench/spans.py)
and leaves the spans and a stage-metrics summary of the Spark event log in
the ``done`` event; the parent enables the event log for traced runs only.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import re
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans as tr  # noqa: E402

STORE_TABLES = ("nodes", "edges", "paths", "node_annotations", "source_map")
# The headline suite reads the TPC-H-derived test tables at scale factor
# 0.01, kept next to the benchmark.
SUITE_DATA = os.path.join(HERE, "suite_data", "sf0.01")
SUITE_SF = 0.01
V3_ROUTES = ("about", "node_info", "mrca", "subtree", "induced_subtree")


def emit(event: str, **fields) -> None:
    print("PERFBENCH " + json.dumps({"event": event, **fields}), flush=True)


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process and its descendants,
    which include the Spark JVM."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def start_session():
    from treemachine_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def warm(store) -> None:
    for name in STORE_TABLES:
        getattr(store, name).count()


def cached_bytes(sc) -> int:
    return sum(int(i.memSize()) + int(i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo())


def event_log_summary(work: str, spans=()) -> dict:
    """Stage metrics of this run's Spark event log (a rolling log is a
    directory of event files)."""
    files = sorted(f for f in glob.glob(os.path.join(work, "eventlog", "**"), recursive=True)
                   if os.path.isfile(f))
    return tr.event_log_metrics(files, spans)


def run_ingest(args) -> None:
    spark, session_s = start_session()
    sc = spark.sparkContext
    emit("ready", session_s=session_s)
    import treemachine_spark.ingest as ingest_mod

    tracer = tr.Tracer(sc) if args.trace else None
    if tracer:
        for attr, name in (
            ("newick_to_dataframes", "sources.parse"),
            ("read_annotations", "sources.annotations"),
            ("with_taxonomy_support", "sources.annotations"),
            ("read_taxonomy_tsv", "sources.taxonomy"),
            ("filter_to_tree", "sources.taxonomy"),
            ("build_closure", "graph.closure.build"),
            ("parse_root", "ingest.parse_root"),
            ("write_store", "ingest.write"),
        ):
            tracer.wrap(ingest_mod, attr, name)
    inputs = {k: os.path.join(args.inputs, f) for k, f in
              (("newick", "tree.tre"), ("annotations", "annotations.json"),
               ("taxonomy", "taxonomy.tsv"))}

    def call(name, fn, *fn_args):
        return tracer.call(name, fn, fn_args, {}) if tracer else fn(*fn_args)

    t0 = time.perf_counter()
    call("ingest.total", ingest_mod.ingest_synthesis_data, spark, inputs["newick"],
         inputs["annotations"], inputs["taxonomy"], args.out)
    ingest_s = time.perf_counter() - t0
    done = {"ingest_s": ingest_s}
    if tracer:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        store = call("ingest.load", ingest_mod.load_store, spark, args.out)
        warm(store)
        done["load_s"] = time.perf_counter() - t0
        done["cached_bytes"] = cached_bytes(sc)
        done["spans"] = tracer.spans
    done["rss_mb"] = peak_rss_mb()
    spark.stop()
    if tracer:
        done["stages"] = event_log_summary(args.work)
    emit("done", **done)


def install_serve_tracing(tracer, core) -> None:
    import treemachine_spark.api.v3 as v3
    import treemachine_spark.exporters.newick_sink as sink
    import treemachine_spark.graph.traversal as traversal

    tracer.wrap(core, "handle", "api.server.handle", new_request=True,
                attrs=lambda path, body: {"route": path.rsplit("/", 1)[-1]})
    for route in V3_ROUTES:
        tracer.wrap(v3.TreeOfLifeV3, route, f"api.v3.{route}")
    for fn in ("mrca", "induced_subtree"):
        tracer.wrap(traversal, fn, f"graph.traversal.{fn}", attrs=lambda _paths, tips, *a, **k: {
            "joined": len(tips) > traversal.DRIVER_PATH_MAX_TIPS})
    tracer.wrap(traversal, "path_to_root", "graph.traversal.path_to_root")
    # api.v3 binds assemble_newick by name; distributed_newick is imported
    # from its module at call time
    tracer.wrap(v3, "assemble_newick", "exporters.newick_sink.assemble", size=len)
    tracer.wrap(sink, "distributed_newick", "exporters.newick_sink.distributed", size=len)


def run_serve(args) -> None:
    spark, session_s = start_session()
    sc = spark.sparkContext
    from treemachine_spark.api.server import make_server
    from treemachine_spark.ingest import load_store

    t0 = time.perf_counter()
    store = load_store(spark, args.store)
    warm(store)
    load_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    srv = make_server(store, port=0)
    build_s = time.perf_counter() - t0
    tracer = tr.Tracer(sc) if args.trace else None
    if tracer:
        install_serve_tracing(tracer, srv.core)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    emit("ready", port=srv.server_address[1], session_s=session_s, load_s=load_s,
         build_s=build_s, cached_bytes=cached_bytes(sc))
    for line in sys.stdin:
        if line.strip() == "stop":
            break
    srv.shutdown()
    srv.server_close()
    cache = srv.response_cache
    done = {"cache_hits": cache.hits, "cache_misses": cache.misses, "rss_mb": peak_rss_mb()}
    if tracer:
        done["spans"] = tracer.spans
    spark.stop()
    if tracer:
        done["stages"] = event_log_summary(args.work)
    emit("done", **done)


def plan_hash(df) -> str:
    """Hash of the physical plan with expression and plan ids blanked, so
    the same plan hashes the same in every session."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+L?|plan_id=\d+|\[id=#?\d+\]", "", plan)
    return hashlib.sha1(plan.encode()).hexdigest()[:12]


def run_suite(args) -> None:
    """The headline query suite, one warm session: the program's own
    get_ctx and table warm-up (as bench.py does it), then each query once,
    executed to its full result through a ``noop`` sink under its own span.
    Answers are checked afterwards, outside the timed region, against the
    DuckDB oracles with the tests' comparator."""
    spark, session_s = start_session()
    sc = spark.sparkContext
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from bench import EXPECTED_ROWS, HEADLINE
    from check import check_suite_answer
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from treemachine_spark.workload.oracles import ORACLES
    from treemachine_spark.workload.queries import QUERIES, get_ctx

    t0 = time.perf_counter()
    ctx = get_ctx(spark, SUITE_DATA)
    ctx["paths"].count()
    for name in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        ctx["tables"][name].cache().count()
    warm_udf = pandas_udf(lambda s: s, "long", PandasUDFType.SCALAR)
    ctx["tables"]["documents"].select(warm_udf(F.col("doc_id"))).count()
    ctx["doc_sig"].count()
    ctx["tip_counts"].count()
    ctx_s = time.perf_counter() - t0
    emit("ready", session_s=session_s, ctx_s=ctx_s)

    tracer = tr.Tracer(sc)

    def full_result(q):
        df = QUERIES[q](spark, SUITE_DATA)
        df.write.format("noop").mode("overwrite").save()
        return df

    frames, plans = {}, {}
    for q in HEADLINE:
        frames[q] = tracer.call(f"workload.{q}", full_result, (q,), {})
        plans[q] = plan_hash(frames[q])
    groups = {s["name"][len("workload."):]: s["group"] for s in tracer.spans}
    expected = EXPECTED_ROWS[SUITE_SF]
    problems = {}
    for q, df in frames.items():
        bad = check_suite_answer(df, ORACLES[q], SUITE_DATA, expected[q])
        if bad:
            problems[q] = bad
    done = {"spans": tracer.spans, "groups": groups, "plans": plans, "problems": problems,
            "rss_mb": peak_rss_mb()}
    spark.stop()
    done["stages"] = event_log_summary(args.work, tracer.spans)
    emit("done", **done)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("ingest", "serve", "suite"))
    ap.add_argument("--inputs")
    ap.add_argument("--out")
    ap.add_argument("--store")
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    {"ingest": run_ingest, "serve": run_serve, "suite": run_suite}[args.mode](args)


if __name__ == "__main__":
    main()
