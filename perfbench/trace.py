"""Spans around the benchmark's calls into the program, streaming
progress, and Spark counters read back from the event log.

A span records name, layer, start, end, parent and a repetition or
request id. Spans stay in memory and are summarised when the run ends.
While tracing, each span sets a Spark job group named after its id, so
the event log attributes jobs, stages and task metrics to spans. Jobs
that a streaming query launches carry the query's own job group; those
are attributed to the innermost span open when the job was submitted.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

# Task counters summed per layer: (metric name, event-log path, scale).
TASK_COUNTERS = (
    ("executor_run_s", ("Executor Run Time",), 1e-3),
    ("executor_cpu_s", ("Executor CPU Time",), 1e-9),
    ("gc_s", ("JVM GC Time",), 1e-3),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Remote Bytes Read"), 1),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Local Bytes Read"), 1),
    ("shuffle_write_bytes", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    ("spill_bytes", ("Memory Bytes Spilled",), 1),
    ("spill_bytes", ("Disk Bytes Spilled",), 1),
    ("output_bytes", ("Output Metrics", "Bytes Written"), 1),
)
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: str
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    rid: int | None


class Tracer:
    """Records spans when enabled; otherwise ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.spark = None  # set once a session exists; job groups need it

    @contextmanager
    def span(self, name: str, layer: str, rid: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"span-{next(self._ids)}", name, layer, time.time(), 0.0,
                  parent.id if parent else None, rid)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(sp)

    def _set_group(self, sp: Span | None) -> None:
        spark = self.spark
        if spark is None or spark.sparkContext._jsc is None:
            return
        if sp is None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                spark.sparkContext.setLocalProperty(key, None)
        else:
            spark.sparkContext.setJobGroup(sp.id, sp.name)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span id: its duration minus the part of its interval
    that its child spans cover (children may overlap each other)."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    by_id = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + by_id[s.id]
    return out


class ProgressRecorder(StreamingQueryListener):
    """Keeps every streaming progress record, grouped by query run id."""

    def __init__(self):
        self._lock = threading.Lock()
        self.by_run: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        with self._lock:
            self.by_run.setdefault(str(event.runId), [])

    def onQueryProgress(self, event) -> None:  # noqa: N802
        rec = json.loads(event.progress.json)
        with self._lock:
            self.by_run.setdefault(rec["runId"], []).append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self.terminated.add(str(event.runId))

    def take(self, timeout_s: float = 30.0) -> list[dict]:
        """Wait until every started query has reported termination, then
        return and forget their progress records in arrival order."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.by_run) <= self.terminated:
                    break
            time.sleep(0.01)
        with self._lock:
            recs = [r for run in self.by_run.values() for r in run]
            self.by_run.clear()
            self.terminated.clear()
        return recs


def _dig(d: dict, path: tuple[str, ...]):
    for k in path:
        if not isinstance(d, dict) or k not in d:
            return 0
        d = d[k]
    return d


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from every Spark event log under ``log_dir``: submission time,
    job group and the task counters of the stages it ran."""
    jobs, stage_job, stage_ctr = [], {}, {}
    files = sorted(glob.glob(f"{log_dir}/**/*", recursive=True))
    for path in files:
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id"),
                        "stages": ev.get("Stage IDs", []),
                    }
                    jobs.append(job)
                    for sid in job["stages"]:
                        stage_job[(path, sid)] = job
                elif kind == "SparkListenerTaskEnd":
                    ctr = stage_ctr.setdefault((path, ev["Stage ID"]), {
                        "tasks": 0, "failed_tasks": 0})
                    ctr["tasks"] += 1
                    if (ev.get("Task Info") or {}).get("Failed"):
                        ctr["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    for name, p, scale in TASK_COUNTERS:
                        ctr[name] = ctr.get(name, 0) + _dig(m, p) * scale
    for job in jobs:
        job["counters"] = {"jobs": 1, "stages": 0}
    for key, ctr in stage_ctr.items():
        job = stage_job.get(key)
        if job is None:
            continue
        job["counters"]["stages"] += 1
        for k, v in ctr.items():
            job["counters"][k] = job["counters"].get(k, 0) + v
    return jobs


def attribute(jobs: list[dict], spans: list[Span]) -> dict[str, dict]:
    """Sum job counters per span id: by job group when the group is a
    span id, else into the innermost span open at submission time."""
    ids = {s.id for s in spans}
    out: dict[str, dict] = {}
    for job in jobs:
        sid = job["group"] if job["group"] in ids else None
        if sid is None:
            open_ = [s for s in spans if s.start <= job["submit"] <= s.end]
            if not open_:
                continue
            sid = max(open_, key=lambda s: s.start).id
        acc = out.setdefault(sid, {})
        for k, v in job["counters"].items():
            acc[k] = acc.get(k, 0) + v
    return out
