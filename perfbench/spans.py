"""Spans around the program's public functions, for the traced run only.

``Tracer.wrap(owner, attr, name)`` replaces ``owner.attr`` with a wrapper
that records a span (name, start, end, parent, request id) and runs the
call under its own Spark job group, so every job the call launches can be
read back with ``statusTracker().getJobIdsForGroup``. A span around a lazy
DataFrame builder therefore shows planning time only; the jobs that later
execute its plan are charged to whichever span triggers them.

Spans are kept in memory and handed to the parent when the run ends; a
layer's self time is its span's duration minus the time covered by its
child spans.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, args, kwargs, new_request: bool = False, size=None,
             attrs=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rid = sid if new_request or parent is None else parent["rid"]
        group = f"perfbench-{sid}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        span = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
                "rid": rid, "group": group, "epoch_start": time.time(),
                "start": time.perf_counter()}
        if attrs is not None:
            span.update(attrs(*args, **kwargs))
        stack.append(span)
        try:
            out = fn(*args, **kwargs)
            if size is not None:
                span["bytes"] = size(out)
            return out
        finally:
            span["end"] = time.perf_counter()
            span["epoch_end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            tracker = self.sc.statusTracker()
            jobs = list(tracker.getJobIdsForGroup(group))
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    st = tracker.getStageInfo(s)
                    tasks += st.numTasks if st else 0
            span["jobs"], span["tasks"] = len(jobs), tasks
            with self._lock:
                self.spans.append(span)

    def wrap(self, owner, attr: str, name: str, new_request: bool = False, size=None,
             attrs=None):
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(name, fn, args, kwargs, new_request, size, attrs)

        setattr(owner, attr, traced)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: max(0.0, s["end"] - s["start"] - child_time[s["id"]]) for s in spans}


def summarise(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total and self seconds, jobs, tasks, bytes."""
    selfs = self_times(spans)
    out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                                "jobs": 0, "tasks": 0, "bytes": 0})
    for s in spans:
        d = out[s["name"]]
        d["calls"] += 1
        d["total_s"] += s["end"] - s["start"]
        d["self_s"] += selfs[s["id"]]
        d["jobs"] += s["jobs"]
        d["tasks"] += s["tasks"]
        d["bytes"] += s.get("bytes", 0)
    return dict(out)


def per_request(spans: list[dict], root_name: str) -> list[dict]:
    """One record per request span: its route, duration and the jobs and
    tasks launched anywhere under it; ``computed`` is false when no other
    span ran under it (a response-cache hit)."""
    by_rid: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        by_rid[s["rid"]].append(s)
    out = []
    for rid, group in by_rid.items():
        roots = [s for s in group if s["id"] == rid and s["name"] == root_name]
        if not roots:
            continue
        root = roots[0]
        out.append({
            "route": root.get("route"),
            "handle_s": root["end"] - root["start"],
            "jobs": sum(s["jobs"] for s in group),
            "tasks": sum(s["tasks"] for s in group),
            "computed": len(group) > 1,
        })
    return out


def event_log_metrics(paths: list[str], spans: list[dict] = ()) -> dict:
    """Stage metrics from Spark event log files: executor run time, shuffle
    bytes, spill, GC and task skew (median over stages of max/median task
    run time, stages with at least four tasks). ``groups`` splits executor
    time, shuffle bytes written, spill and Python worker run time ("time to
    run Python workers", Spark's own UDF timer) by the job group each stage
    ran under. A job outside every span's group (a streaming query runs its
    batches under a group of its own) is charged to the span of ``spans``
    during which it was submitted."""
    run_ms = gc_ms = spill = sh_read = sh_write = 0
    own = {s["group"] for s in spans}
    stage_tasks: dict[int, list[int]] = defaultdict(list)
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {"executor_run_s": 0.0, "shuffle_bytes": 0,
                                                    "spill_bytes": 0, "python_s": 0.0})
    for path in paths:
        with open(path) as fh:
            lines = fh.readlines()
        for line in lines:  # one JSON event per line
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group not in own:
                    t = ev.get("Submission Time", 0) / 1000
                    group = next((s["group"] for s in spans
                                  if s["epoch_start"] <= t <= s["epoch_end"]), group)
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
                continue
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            m = ev.get("Task Metrics") or {}
            t = m.get("Executor Run Time", 0)
            run_ms += t
            gc_ms += m.get("JVM GC Time", 0)
            task_spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            spill += task_spill
            r = m.get("Shuffle Read Metrics") or {}
            sh_read += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            written = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sh_write += written
            stage = ev.get("Stage ID", -1)
            stage_tasks[stage].append(t)
            group = stage_group.get(stage)
            if group is not None:
                g = groups[group]
                g["executor_run_s"] += t / 1000
                g["shuffle_bytes"] += written
                g["spill_bytes"] += task_spill
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":  # ms
                        g["python_s"] += int(acc.get("Update", 0)) / 1000
    skews = [max(ts) / max(statistics.median(ts), 1) for ts in stage_tasks.values()
             if len(ts) >= 4]
    return {
        "executor_run_s": run_ms / 1000,
        "gc_s": gc_ms / 1000,
        "spill_bytes": spill,
        "shuffle_read_bytes": sh_read,
        "shuffle_write_bytes": sh_write,
        "task_skew": statistics.median(skews) if skews else 1.0,
        "stages": len(stage_tasks),
        "groups": dict(groups),
    }
