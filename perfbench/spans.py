"""Traced-run instruments, all outside the engine: a Spark job group and
description per layer boundary (``bench:<workload>:<layer>``), the
``statusTracker`` job/stage/task counts, the Spark event log (enabled through
``get_spark(extra_conf=...)``) parsed for per-job executor time, CPU, GC,
shuffle, spill and I/O, and the spans the benchmark records around its own
calls into each layer.

Spans are ``(layer, t0_ms, t1_ms)`` in wall-clock milliseconds. A Spark job
belongs to the span in which it was submitted; one client thread drives
every workload, so spans never overlap and streaming jobs (which run on the
stream's own thread, outside any job group) still land in their batch's
span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession


def event_log_conf(events_dir: str) -> dict[str, str]:
    os.makedirs(events_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(events_dir),
            "spark.eventLog.compress": "false"}


def now_ms() -> float:
    return time.time() * 1e3


class Tracer:
    """Puts an action at each lazy layer boundary and records spans.

    ``boundary`` persists the layer's output and counts it, so the next
    layer reads the cache and each span holds one layer's own work;
    ``step`` times an eager call. ``release`` drops the caches."""

    def __init__(self, spark: SparkSession, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, int] = {}
        self._cached: list[DataFrame] = []

    def group(self, layer: str) -> str:
        g = f"bench:{self.workload}:{layer}"
        self.sc.setJobGroup(g, g)
        return g

    def boundary(self, layer: str, df: DataFrame) -> DataFrame:
        self.group(layer)
        df = df.persist()
        self._cached.append(df)
        t0 = now_ms()
        self.counts[layer] = df.count()
        self.spans.append((layer, t0, now_ms()))
        return df

    def step(self, layer: str, fn) -> None:
        self.group(layer)
        t0 = now_ms()
        fn()
        self.spans.append((layer, t0, now_ms()))

    def span(self, layer: str, t0: float, t1: float) -> None:
        self.spans.append((layer, t0, t1))

    def span_s(self, layer: str) -> float:
        return sum(b - a for n, a, b in self.spans if n == layer) / 1e3

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self.sc.setJobGroup("bench:idle", "bench:idle")


def job_counts(spark: SparkSession, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran, tasks completed) of one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


# --- event log ----------------------------------------------------------------

_KEYS = ("run_ms", "cpu_ns", "gc_ms", "spill_bytes", "input_bytes",
         "input_records", "output_bytes", "output_records",
         "shuffle_read_bytes", "shuffle_write_bytes", "tasks")


def parse_event_log(events_dir: str) -> dict[int, dict]:
    """Per-job totals: submission time (ms), job group and task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes a directory per application (rolling event log)
    paths = sorted(p for p in glob.glob(os.path.join(events_dir, "**"),
                                        recursive=True)
                   if os.path.isfile(p)
                   and not os.path.basename(p).startswith("appstatus"))
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:   # a line cut by the flush
                    continue
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = dict.fromkeys(_KEYS, 0) | {
                        "submit_ms": e.get("Submission Time", 0),
                        "group": props.get("spark.jobGroup.id")}
                    for s in e.get("Stage IDs", []):
                        stage_job[s] = e["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e.get("Stage ID")))
                    m = e.get("Task Metrics")
                    if job is None or not m:
                        continue
                    sr = m.get("Shuffle Read Metrics", {})
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    job["input_bytes"] += m.get("Input Metrics", {}).get(
                        "Bytes Read", 0)
                    job["input_records"] += m.get("Input Metrics", {}).get(
                        "Records Read", 0)
                    job["output_bytes"] += m.get("Output Metrics", {}).get(
                        "Bytes Written", 0)
                    job["output_records"] += m.get("Output Metrics", {}).get(
                        "Records Written", 0)
                    job["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0))
                    job["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
    return jobs


def by_span(jobs: dict[int, dict], spans) -> list[tuple[str, dict]]:
    """Task-metric totals per span, in span order."""
    out = []
    for name, t0, t1 in spans:
        tot: dict = defaultdict(int)
        for j in jobs.values():
            if t0 <= j["submit_ms"] <= t1:
                for k in _KEYS:
                    tot[k] += j[k]
        out.append((name, tot))
    return out
