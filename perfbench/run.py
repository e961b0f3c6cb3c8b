"""treemachine_spark benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload ingest|serve --seed N --seconds S --trace 0|1

Run it from the repository root. The last line of stdout is the result,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
The line before it holds the run's details (host regime, tree shape, per
route latencies, the tail percentile and its sample count).

Workloads (perfbench/README.md says more):

- ``ingest``: the program's ``ingest_synthesis_data`` on a tree generated
  from the seed, timed files to persisted store, every table checked. A
  traced ingest run then also runs the headline query suite (bench.HEADLINE)
  once in a fresh process, each query to its full result, every answer
  checked against its DuckDB oracle; its figures are per-layer only.
- ``serve``: an open loop of small requests at a fixed Poisson rate over
  HTTP to ``api.server.make_server``; in traced runs then a bulk phase of
  two closed-loop clients sending requests above the driver tier (mrca and
  induced_subtree over more than 5000 tips, newick of a large clade and of
  the root). Every answer is checked.

``serve`` serves one store per checkout: it is built on first use by the
checkout's own ingest from a fixed-seed tree, kept under perfbench/_work
keyed by a hash of the program's source, and checked table by table when
built. The seed drives the request stream.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import mix  # noqa: E402
import spans  # noqa: E402

WORK = os.path.join(ROOT, "perfbench", "_work")
INGEST_TIPS = 5000
SERVE_TREE_SEED = 20260
SERVE_TIPS = 10000
# Open-loop rate: about a third of the point mix's closed-loop capacity with
# four connections (3.1 requests/s on a 4-core host). At half of it (1.5/s)
# queueing amplified run-to-run host speed so much that the median latency
# spread over ten seeds exceeded its bound.
POINT_RATE = 1.0
POINT_SLO_MS = 4000.0  # latency limit, timed from each request's due time
BULK_CLIENTS = 2
# The headline query suite (bench.HEADLINE) runs in traced ingest runs only;
# its figures are summed per family.
SUITE_FAMILIES = {
    "tree": ("closure_paths", "t2_mrca", "t4_subtree", "t6_induced_subtree", "a1_tip_counts",
             "c1_rf_distance"),
    "relational": ("q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
                   "w1_window_topn", "p10_id_codec"),
    "pipeline": ("d2_minhash_pairs", "v1_ann_brute", "x1_text_profile", "x15_tfidf"),
    "streaming": ("s2_sessions_batch", "s4_stream_enriched"),
}
STARTUP_TIMEOUT = 150
REQUEST_TIMEOUT = 120

E2E_UNITS = {"setup_s": "s", "p50_ms": "ms", "store_bytes_per_input_byte": "ratio"}
ROUTES = ("about", "node_info", "mrca", "subtree", "induced_subtree")


class BenchError(RuntimeError):
    """A run that cannot produce a result."""


# ----------------------------------------------------------------------
# host
# ----------------------------------------------------------------------
def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise BenchError("no MemTotal in /proc/meminfo")


def host_regime() -> dict:
    """nproc, MemTotal and load, plus the repository's own host probe
    (bench._host_fingerprint: memory-copy rate among others)."""
    host = {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_total_kb(),
            "loadavg_start": os.getloadavg()}
    try:
        sys.path.insert(0, ROOT)
        from bench import _host_fingerprint
    except ImportError:
        host["probe"] = "bench._host_fingerprint unavailable"
        return host
    host.update(_host_fingerprint())
    gbps = host.get("mem_copy_gbps")
    host["regime_degraded"] = gbps is not None and gbps < 2.0
    return host


def spark_jvms() -> list[int]:
    """Pids of live Spark driver JVMs (spark-submit), this run's or not."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(d))
    return pids


def wait_for_quiet_host(timeout: float = 60.0) -> None:
    deadline = time.time() + timeout
    while spark_jvms():
        if time.time() > deadline:
            raise BenchError(f"another Spark JVM is running: {spark_jvms()}")
        time.sleep(1)


def program_env(run_dir: str, trace: bool) -> dict:
    """Session sized from the host: all cores, a quarter of memory for the
    driver heap. Spark's scratch space, temp files and (traced runs only)
    event log stay inside the run directory."""
    nproc = len(os.sched_getaffinity(0))
    heap_gb = max(1, mem_total_kb() // (4 * 1024 * 1024))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
    })
    return env


# ----------------------------------------------------------------------
# the program's process
# ----------------------------------------------------------------------
class Program:
    """perfbench/program.py in its own process group, talking JSON lines."""

    def __init__(self, argv: list[str], run_dir: str, trace: bool, name: str):
        self.log = open(os.path.join(run_dir, f"{name}.log"), "w")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "program.py"), *argv, "--work", run_dir]
            + (["--trace"] if trace else []),
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, text=True,
            cwd=run_dir, env=program_env(run_dir, trace), start_new_session=True)
        self.events: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH "):
                self.events.put(json.loads(line[len("PERFBENCH "):]))
        self.events.put(None)

    def wait_event(self, name: str, timeout: float) -> dict:
        try:
            ev = self.events.get(timeout=timeout)
        except queue.Empty:
            raise BenchError(f"program sent no {name} event in {timeout:.0f} s") from None
        if ev is None or ev.get("event") != name:
            raise BenchError(f"program exited before {name}; see {self.log.name}")
        ev["t"] = time.perf_counter()
        return ev

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("stop\n")
                self.proc.stdin.flush()
            except (BrokenPipeError, OSError):
                pass

    def close(self) -> None:
        """Wait for the process; kill its group (the JVM included) if it
        lingers, and wait until every member has gone."""
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass
        pgid = self.proc.pid
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.2)
        self.log.close()


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[3]) == pgid:
                        return True
            except (OSError, IndexError, ValueError):
                pass
    return False


def run_ingest_process(inputs: str, out: str, run_dir: str, trace: bool) -> dict:
    prog = Program(["ingest", "--inputs", inputs, "--out", out], run_dir, trace, "ingest")
    try:
        ready = prog.wait_event("ready", STARTUP_TIMEOUT)
        done = prog.wait_event("done", 900)
    finally:
        prog.close()
    done["setup_s"] = ready["t"] - prog.t_spawn
    done["session_s"] = ready["session_s"]
    return done


# ----------------------------------------------------------------------
# statistics
# ----------------------------------------------------------------------
def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, but not below the median."""
    xs = sorted(values)
    n = len(xs)
    i = max(n - 11, n // 2)
    return xs[i], 100.0 * (i + 1) / n, n


def median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ----------------------------------------------------------------------
# ingest
# ----------------------------------------------------------------------
def workload_ingest(seed: int, run_dir: str, trace: bool) -> dict:
    tree = gen.make_tree(seed, INGEST_TIPS)
    inputs = os.path.join(run_dir, "inputs")
    paths = gen.write_inputs(tree, seed, inputs)
    store = os.path.join(run_dir, "store")
    done = run_ingest_process(inputs, store, run_dir, trace)
    problems = check.check_store(tree, seed, store)
    input_bytes = sum(os.path.getsize(p) for p in paths.values())
    store_bytes = check.dir_bytes(store)
    layers = {
        "sources.input_bytes": input_bytes,
        "graph.closure.rows_per_node": tree.closure_rows() / tree.n_nodes,
        "ingest.bytes_written": store_bytes,
        "ingest.paths_bytes": check.dir_bytes(os.path.join(store, "paths")),
        "process.rss_mb": done["rss_mb"],
    }
    details = {"tree": tree.shape(), "ingest_s": done["ingest_s"],
               "session_s": done["session_s"]}
    attempted = 1
    if trace:
        summ = spans.summarise(done["spans"])
        details["span_summary"] = summ
        details["spans"] = done["spans"]

        def total(name: str, key: str = "total_s") -> float:
            return summ.get(name, {}).get(key, 0)

        layers.update({
            "sources.parse_s": total("sources.parse"),
            "sources.annotations_s": total("sources.annotations"),
            "sources.taxonomy_s": total("sources.taxonomy"),
            "graph.closure.build_s": total("graph.closure.build"),
            "graph.closure.jobs": total("graph.closure.build", "jobs"),
            "ingest.total_s": total("ingest.total"),
            "ingest.write_s": total("ingest.write"),
            "ingest.write_self_s": total("ingest.write", "self_s"),
            "ingest.load_s": done["load_s"],
            "ingest.cached_bytes": done["cached_bytes"],
        })
        layers.update(stage_layers(done["stages"]))
        suite = run_suite_process(os.path.join(run_dir, "suite"))
        problems += [f"suite {q}: {msg}" for q, msg in suite["problems"].items()]
        layers.update(suite["layers"])
        details["suite"] = suite["details"]
        attempted += len(suite["details"]["plans"])
    return {
        "correct": not problems, "attempted": attempted, "failed": 0, "problems": problems,
        "e2e": {"setup_s": done["setup_s"], "p50_ms": done["ingest_s"] * 1000,
                "store_bytes_per_input_byte": store_bytes / input_bytes},
        "details": details, "layers": layers,
    }


def run_suite_process(run_dir: str) -> dict:
    """The headline suite in a fresh traced process: per query its wall
    time to a full result, and from the event log its executor time,
    shuffle bytes and spill; the Python UDF time over the suite; a plan
    hash per query in the details. Answers are checked in the process."""
    os.makedirs(run_dir, exist_ok=True)
    prog = Program(["suite"], run_dir, True, "suite")
    try:
        ready = prog.wait_event("ready", STARTUP_TIMEOUT)
        done = prog.wait_event("done", 600)
    finally:
        prog.close()
    wall = {s["name"][len("workload."):]: s["end"] - s["start"] for s in done["spans"]}
    groups = done["stages"]["groups"]
    layers = {"workload.setup_s": ready["t"] - prog.t_spawn, "workload.spill_bytes": 0,
              "functions.udf_s": 0.0}
    for q, group in done["groups"].items():
        g = groups.get(group, {})
        layers[f"workload.{q}.wall_s"] = wall[q]
        layers[f"workload.{q}.executor_s"] = g.get("executor_run_s", 0.0)
        layers[f"workload.{q}.shuffle_bytes"] = g.get("shuffle_bytes", 0)
        layers["workload.spill_bytes"] += g.get("spill_bytes", 0)
        layers["functions.udf_s"] += g.get("python_s", 0.0)
    for family, qs in SUITE_FAMILIES.items():
        layers[f"workload.suite_{family}_s"] = sum(wall[q] for q in qs)
    details = {"plans": done["plans"], "ctx_s": ready["ctx_s"], "session_s": ready["session_s"],
               "rss_mb": done["rss_mb"]}
    return {"problems": done["problems"], "layers": layers, "details": details}


# ----------------------------------------------------------------------
# serve
# ----------------------------------------------------------------------
def source_hash() -> str:
    """Hash of the program's source and of the benchmark's own code."""
    h = hashlib.sha256()
    sources = [os.path.join(HERE, f) for f in os.listdir(HERE) if f.endswith(".py")]
    for root, dirs, files in os.walk(os.path.join(ROOT, "treemachine_spark")):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        sources += [os.path.join(root, f) for f in files if f.endswith(".py")]
    for path in sorted(sources):
        with open(path, "rb") as fh:
            h.update(os.path.relpath(path, ROOT).encode() + fh.read())
    return h.hexdigest()[:16]


def serve_store(run_dir: str) -> tuple[gen.Tree, dict, str, float]:
    """The serve workload's store: built once per checkout by the program's
    own ingest, keyed by the program's source, checked when built. Returns
    the tree, its annotations, the store and its bytes per input byte."""
    store = os.path.join(WORK, f"serve-store-{SERVE_TREE_SEED}-{SERVE_TIPS}-{source_hash()}")
    for old in os.listdir(WORK):  # stores built from other sources
        if old.startswith("serve-store-") and not old.startswith(os.path.basename(store)):
            path = os.path.join(WORK, old)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    tree = gen.make_tree(SERVE_TREE_SEED, SERVE_TIPS)
    meta = gen.annotations(tree, SERVE_TREE_SEED)
    input_bytes_file = store + ".input_bytes"
    if not os.path.exists(input_bytes_file):
        build = os.path.join(run_dir, "serve-build")
        paths = gen.write_inputs(tree, SERVE_TREE_SEED, os.path.join(build, "inputs"))
        out = os.path.join(build, "store")
        run_ingest_process(os.path.join(build, "inputs"), out, build, False)
        problems = check.check_store(tree, SERVE_TREE_SEED, out)
        if problems:
            raise BenchError(f"serve store built wrong: {problems}")
        shutil.rmtree(store, ignore_errors=True)
        os.rename(out, store)
        with open(input_bytes_file, "w") as fh:
            fh.write(str(sum(os.path.getsize(p) for p in paths.values())))
    with open(input_bytes_file) as fh:
        input_bytes = int(fh.read())
    return tree, meta, store, check.dir_bytes(store) / input_bytes


def post(port: int, req: dict) -> dict:
    """Send one request; its status, decoded body, body bytes and
    send-to-reply seconds. A refused or broken connection is status -1."""
    body = json.dumps(req["body"]).encode()
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT)
    try:
        conn.request("POST", req["path"], body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        status = resp.status
    except (OSError, http.client.HTTPException) as e:
        return {"status": -1, "body": str(e), "bytes": 0, "wall": time.perf_counter() - t0}
    finally:
        conn.close()
    try:
        decoded = json.loads(data)
    except ValueError:
        decoded = None
    return {"status": status, "body": decoded, "bytes": len(data),
            "wall": time.perf_counter() - t0}


def open_loop(port: int, reqs: list[dict], due: list[float], conns: int) -> tuple[list, list]:
    """Send each request at its due time (seconds from start) on one of
    ``conns`` connections; latency runs from the due time. Returns the
    records and the generator's lateness per request."""
    records: list = [None] * len(reqs)
    work: queue.Queue = queue.Queue()

    def worker() -> None:
        while (item := work.get()) is not None:
            i, t_due = item
            rec = post(port, reqs[i])
            rec["latency"] = time.perf_counter() - t_due
            records[i] = rec

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(conns)]
    for t in threads:
        t.start()
    late = []
    t0 = time.perf_counter() + 0.1
    for i, d in enumerate(due):
        wait = t0 + d - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        late.append(max(0.0, time.perf_counter() - (t0 + d)))
        work.put((i, t0 + d))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join(timeout=REQUEST_TIMEOUT + 30)
    return records, late


def closed_loop(port: int, reqs: list[dict], clients: int) -> list:
    """Each client sends the next request when its last reply arrives."""
    records: list = [None] * len(reqs)
    todo: queue.Queue = queue.Queue()
    for i in range(len(reqs)):
        todo.put(i)

    def client() -> None:
        while True:
            try:
                i = todo.get_nowait()
            except queue.Empty:
                return
            rec = post(port, reqs[i])
            rec["latency"] = rec["wall"]
            records[i] = rec

    threads = [threading.Thread(target=client, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=len(reqs) * (REQUEST_TIMEOUT + 30))
    return records


def judge(tree, meta, reqs, records) -> tuple[list, int, list]:
    """(problems, failed, [(request, record)] answered correctly)."""
    problems, failed, ok = [], 0, []
    for r, rec in zip(reqs, records):
        if rec is None or rec["status"] < 0 or rec["status"] >= 500:
            failed += 1
            continue
        bad = check.check_answer(tree, meta, r, rec["status"], rec["body"])
        if bad:
            problems.append(f"{r['kind']} {json.dumps(r['body'])[:100]}: {bad}")
        else:
            ok.append((r, rec))
    return problems, failed, ok


def workload_serve(seed: int, seconds: int, run_dir: str, trace: bool) -> dict:
    tree, meta, store, store_ratio = serve_store(run_dir)
    conns = len(os.sched_getaffinity(0))
    n = max(1, round(POINT_RATE * seconds))
    point = mix.point_requests(tree, seed, n)
    due = mix.point_schedule(n, seconds)
    # the bulk phase feeds per-layer metrics only, so it runs in traced runs
    bulk = mix.bulk_requests(tree, seed) if trace else []
    warmup = mix.warmup_requests(tree, seed)
    prog = Program(["serve", "--store", store], run_dir, trace, "serve")
    try:
        ready = prog.wait_event("ready", STARTUP_TIMEOUT)
        port = ready["port"]
        t0 = time.perf_counter()
        warm_records, _ = open_loop(port, warmup, [0.0] * len(warmup), conns)
        t1 = time.perf_counter()
        records, late = open_loop(port, point, due, conns)
        t2 = time.perf_counter()
        bulk_records = closed_loop(port, bulk, BULK_CLIENTS)
        t3 = time.perf_counter()
        prog.stop()
        done = prog.wait_event("done", 120)
    finally:
        prog.stop()
        prog.close()

    setup_s = ready["t"] - prog.t_spawn
    problems, failed, ok = judge(tree, meta, point, records)
    bulk_problems, bulk_failed, bulk_ok = judge(tree, meta, bulk, bulk_records)
    attempted = len(point) + len(bulk)
    # a failed request misses every latency limit
    all_ms = [rec["latency"] * 1000 if rec and 0 < rec["status"] < 500 else float("inf")
              for rec in records]
    tail_ms, tail_pct, tail_n = tail(all_ms)
    route_ms: dict[str, list[float]] = {r: [] for r in ROUTES}
    for r, rec in ok:
        if not r.get("hot"):
            route_ms[r["kind"]].append(rec["latency"] * 1000)
    within = sum(1 for _, rec in ok if rec["latency"] * 1000 <= POINT_SLO_MS)
    bulk_ms = {f"{r['kind']}:{len(r['body'].get('node_ids') or r['body'].get('ott_ids') or [])}"
               if r["kind"] != "subtree" else f"subtree:{r['body']['node_id']}":
               rec["latency"] * 1000 for r, rec in bulk_ok}
    hits, misses = done["cache_hits"], done["cache_misses"]
    details = {
        "tree": tree.shape(), "point_requests": len(point), "window_s": t2 - t1,
        "warmup_s": t1 - t0, "bulk_s": t3 - t2, "tail_percentile": tail_pct, "tail_n": tail_n,
        "session_s": ready["session_s"], "load_s": ready["load_s"], "build_s": ready["build_s"],
        "route_p50_ms": {k: median_or_zero(v) for k, v in route_ms.items()},
        "route_n": {k: len(v) for k, v in route_ms.items()},
        "within_slo_ratio": within / len(point), "slo_ms": POINT_SLO_MS,
        "bulk_ms": bulk_ms, "cache_hits": hits, "cache_misses": misses,
        "latency_ms": [[r["kind"] + ("*" if r.get("hot") else ""), round(ms)]
                       for r, ms in zip(point, all_ms)],
    }
    layers = {
        "serve.tail_ms": tail_ms,
        "serve.node_info_p50_ms": details["route_p50_ms"]["node_info"],
        "serve.mrca_p50_ms": details["route_p50_ms"]["mrca"],
        "serve.induced_subtree_p50_ms": details["route_p50_ms"]["induced_subtree"],
        "serve.subtree_p50_ms": details["route_p50_ms"]["subtree"],
        "serve.within_slo_ratio": details["within_slo_ratio"],
        "serve.fail_ratio": (failed + bulk_failed) / attempted,
        "serve.bulk_mrca_ms": median_or_zero(v for k, v in bulk_ms.items() if k.startswith("mrca")),
        "serve.bulk_induced_subtree_ms": median_or_zero(
            v for k, v in bulk_ms.items() if k.startswith("induced")),
        "serve.bulk_subtree_ms": median_or_zero(
            v for k, v in bulk_ms.items() if k.startswith("subtree")),
        "api.server.cache_hit_ratio": hits / max(1, hits + misses),
        "api.server.errors": failed + bulk_failed,
        "loadgen.late_p95_ms": sorted(late)[int(0.95 * (len(late) - 1))] * 1000,
        "loadgen.offered_rps": len(point) / (t2 - t1),
        "ingest.cached_bytes": ready["cached_bytes"],
        "process.rss_mb": done["rss_mb"],
    }
    if trace:
        answered = [rec for rec in warm_records + records + bulk_records
                    if rec and rec["status"] > 0]
        layers.update(serve_layers(done["spans"], answered))
        details["span_summary"] = spans.summarise(done["spans"])
        details["spans"] = done["spans"]
        layers.update(stage_layers(done["stages"]))
    return {
        "correct": not problems and not bulk_problems, "attempted": attempted,
        "failed": failed + bulk_failed, "problems": (problems + bulk_problems)[:20],
        "e2e": {"setup_s": setup_s, "p50_ms": statistics.median(all_ms),
                "store_bytes_per_input_byte": store_ratio},
        "details": details, "layers": layers,
    }


def serve_layers(span_list: list[dict], records: list[dict]) -> dict:
    summ = spans.summarise(span_list)
    per_req = spans.per_request(span_list, "api.server.handle")
    handle = statistics.mean(r["handle_s"] for r in per_req)
    out = {
        "api.server.handle_s": handle,
        "api.server.transport_s": statistics.mean(r["wall"] for r in records) - handle,
        "api.server.response_bytes": statistics.mean(r["bytes"] for r in records),
    }
    for route in ROUTES:
        s = summ.get(f"api.v3.{route}", {})
        out[f"api.v3.{route}_self_s"] = s.get("self_s", 0) / max(1, s.get("calls", 0))
        computed = [r["jobs"] for r in per_req if r["route"] == route and r["computed"]]
        out[f"spark.jobs_per_request.{route}"] = median_or_zero(computed)
    computed = [r["tasks"] for r in per_req if r["computed"]]
    out["spark.tasks_per_request"] = median_or_zero(computed)
    for fn in ("mrca", "induced_subtree", "path_to_root"):
        s = summ.get(f"graph.traversal.{fn}", {})
        out[f"graph.traversal.{fn}_s"] = s.get("total_s", 0) / max(1, s.get("calls", 0))
    joined = [s["joined"] for s in span_list if "joined" in s]
    out["graph.traversal.joined_share"] = sum(joined) / max(1, len(joined))
    asm = summ.get("exporters.newick_sink.assemble", {})
    dist = summ.get("exporters.newick_sink.distributed", {})
    out["exporters.newick_sink.assemble_s"] = asm.get("total_s", 0)
    out["exporters.newick_sink.distributed_s"] = dist.get("total_s", 0)
    out["exporters.newick_sink.newick_bytes"] = asm.get("bytes", 0) + dist.get("bytes", 0)
    return out


def stage_layers(stages: dict) -> dict:
    return {f"spark.{k}": stages.get(k, 0) for k in
            ("executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "gc_s", "task_skew")}


# ----------------------------------------------------------------------
# main
# ----------------------------------------------------------------------
def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "treemachine_spark")):
        print("perfbench: no treemachine_spark package next to perfbench/", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    host = host_regime()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        wait_for_quiet_host()
        os.makedirs(run_dir, exist_ok=True)
        if args.workload == "ingest":
            res = workload_ingest(args.seed, run_dir, trace)
        else:
            res = workload_serve(args.seed, args.seconds, run_dir, trace)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host["loadavg_end"] = os.getloadavg()
    e2e = res["e2e"]
    # the untraced run of the same workload, seed, length and source that
    # tracing overhead is measured against
    last = os.path.join(WORK, f"untraced-{args.workload}-{args.seed}-{args.seconds}-"
                              f"{source_hash()}.json")
    if trace:
        # tracing overhead: traced minus that untraced run, in the details
        # (a metric must be a number, and there may be no such run)
        base = None
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)
        for k, v in e2e.items():
            res["layers"][f"trace.{k}"] = v
        res["details"]["trace_overhead"] = (
            {k: v - base[k] for k, v in e2e.items()} if base
            else "unavailable: no untraced run of this workload, seed and source")
        # a layer the workload does not run reads 0
        metrics = {n: {"value": res["layers"].get(n, 0), "unit": u}
                   for n, u in per_layer_units().items()}
    else:
        with open(last, "w") as fh:
            json.dump(e2e, fh)
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    details = {"workload": args.workload, "seed": args.seed, "host": host,
               "problems": res["problems"], **res["details"]}
    print(json.dumps(details, default=str))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
