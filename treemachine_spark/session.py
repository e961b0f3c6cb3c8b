"""SparkSession factory tuned for the test harness (local[N]) while keeping
settings that transfer to a real cluster (AQE, broadcast thresholds, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_session_size(env, cores: int, mem_total_kb: int) -> tuple[str, str]:
    """(local[N] cores, driver heap) for a session: ``SPARK_GRAFT_CPUS`` and
    ``SPARK_DRIVER_MEM`` from ``env`` when set, else every core this
    process may run on and a quarter of the host's memory."""
    cpus = env.get("SPARK_GRAFT_CPUS") or str(max(1, cores))
    heap = env.get("SPARK_DRIVER_MEM") or f"{max(512, mem_total_kb // 4 // 1024)}m"
    return cpus, heap


def _host_resources() -> tuple[int, int]:
    """(usable cores, MemTotal in kB) of this host."""
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        cores = os.cpu_count() or 1
    try:
        with open("/proc/meminfo") as fh:
            mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        mem_kb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    return cores, mem_kb


def get_spark(app_name: str = "treemachine-spark") -> SparkSession:
    """Build (or fetch) a SparkSession.

    Scale notes: on a real cluster only the master() line changes. AQE handles
    runtime partition coalescing and skew-join splitting; shuffle partitions
    default to 2x cores locally but should be sized to ~128 MB/partition of
    shuffle data at 100 TB (spark.sql.shuffle.partitions is a starting hint
    only once AQE is on).
    """
    cpus, driver_mem = host_session_size(os.environ, *_host_resources())
    # OPT-IN weighted route-family pools: TREEMACHINE_SCHEDULER_XML=default
    # loads the packaged fairscheduler.xml (interactive 4 / index 2 /
    # tree-heavy 1 FIFO), or point it at your own allocation file. Kept
    # opt-in because the r12 bench_fair three-way measured the weighted
    # config a WASH vs the on-demand equal-weight pools at the saturation
    # profile (node_info 1.10 vs 1.04 s p50, mrca 2.37 vs 2.02 — no win
    # to justify changing the measured default); the equal-weight pools
    # already deliver the 2-5x light-route isolation (NOTES_r12).
    sched_xml = os.environ.get("TREEMACHINE_SCHEDULER_XML", "")
    if sched_xml == "default":
        sched_xml = os.path.join(os.path.dirname(__file__), "fairscheduler.xml")
    if sched_xml in ("off", "0", ""):
        sched_xml = None
    elif not os.path.exists(sched_xml):
        # an explicitly-set allocation file that doesn't exist is a
        # deployment typo — silently dropping it would lose the weighted
        # pools with no signal (r12 advice); only the sentinels skip
        raise FileNotFoundError(
            f"TREEMACHINE_SCHEDULER_XML points at a nonexistent allocation "
            f"file: {sched_xml!r} (use 'off'/'0'/'' to disable, 'default' "
            f"for the packaged fairscheduler.xml)"
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # FAIR job scheduling: the HTTP facade serves concurrent requests
        # from one session — under FIFO a queued subtree scan starves every
        # small node_info behind it (bench_http r4: node_info p50 doubled
        # from 12 -> 32 clients); FAIR round-robins task slots across jobs.
        # Batch workloads are unaffected (one job at a time), and the
        # concurrent-ingest job packing keeps working.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if sched_xml:
        builder = builder.config("spark.scheduler.allocation.file", sched_xml)
    return builder.getOrCreate()
