"""Spans, Spark event-log aggregation and Python-UDF profile reading.

The benchmark records one span around each call it makes into a layer
of the package (session start, staging, query build, planning, the
drain, each modeler call).  Spans stay in memory and are written once,
when the run ends.  The traced run adds two sources the package
already supports through ``get_session(extra_conf=...)``: Spark's event
log (jobs, stages and tasks, attributed to ops by the job description
the benchmark sets) and the Python-UDF profiler
(``spark.sql.pyspark.udf.profiler=perf``, read through
``spark.profile.dump``).
"""

from __future__ import annotations

import glob
import json
import math
import os
import pstats
import re
import time
from collections import defaultdict
from contextlib import contextmanager

DESCRIPTION_KEY = "spark.job.description"


class Tracer:
    """Nested spans: name, start, end, parent.  A span opened with a
    ``trace_id`` hands it to every span opened inside it, so the spans
    of one pass share an id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if trace_id is None and parent is not None:
            trace_id = parent["trace_id"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace_id": trace_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (children may overlap one another; their union is
    subtracted once)."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = duration(s) - covered
    return out


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    """The span ``root_id`` and every span below it."""
    keep, out = {root_id}, []
    for s in spans:  # parents are always recorded before their children
        if s["id"] in keep or s["parent"] in keep:
            keep.add(s["id"])
            out.append(s)
    return out


def tail(values: list[float]) -> tuple[float, float]:
    """The highest of p50/p90/p99/p99.9 with at least ten samples beyond
    it, as (percentile, value) by nearest rank.  With fewer than twenty
    samples no percentile qualifies and the maximum is reported as
    p100."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99.0, 90.0, 50.0):
        if n * (1 - p / 100) >= 10:
            return p, xs[max(math.ceil(p / 100 * n) - 1, 0)]
    return 100.0, xs[-1]


# -- Spark event log ---------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order.  Spark 4.1 rolls
    each application into ``eventlog_v2_<app>/events_<N>_<app>``; a
    plain single-file log (rolling off) is read as it is."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if entry.startswith("eventlog_v2_") and os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            index = lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1))  # noqa: E731
            files.extend(sorted(parts, key=index))
        elif os.path.isfile(path) and not entry.startswith("."):
            files.append(path)
    return files


def read_events(log_dir: str):
    for path in event_log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


SPARK_METRICS = (
    "jobs", "stages", "tasks", "task_wait_s", "task_run_s", "jvm_cpu_s",
    "gc_s", "shuffle_write_bytes", "spill_bytes", "result_bytes",
    "failed_tasks",
)


def aggregate_events(events) -> dict[str, dict[str, float]]:
    """Per job description: jobs, submitted stages, tasks and the task
    metrics the benchmark reports.  ``task_wait_s`` is each task's launch
    time minus its stage's submission time, summed over tasks.  Work run
    without a description is filed under ``""``."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_METRICS, 0))
    stage_desc: dict[tuple[int, int], str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            out[(e.get("Properties") or {}).get(DESCRIPTION_KEY, "")]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            desc = (e.get("Properties") or {}).get(DESCRIPTION_KEY, "")
            stage_desc[key] = desc
            stage_submit[key] = info.get("Submission Time")
            out[desc]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            agg = out[stage_desc.get(key, "")]
            info = e["Task Info"]
            agg["tasks"] += 1
            if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
                agg["failed_tasks"] += 1
            if stage_submit.get(key) is not None:
                agg["task_wait_s"] += max(info["Launch Time"] - stage_submit[key], 0) / 1e3
            m = e.get("Task Metrics") or {}
            agg["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            agg["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            agg["result_bytes"] += m.get("Result Size", 0)
    return dict(out)


# -- Python-UDF profile --------------------------------------------------


def profile_seconds(dump_dir: str) -> float:
    """Total profiled Python time in a ``spark.profile.dump`` directory
    (one ``udf_<id>_perf.pstats`` file per UDF)."""
    return sum(
        (pstats.Stats(path).total_tt for path in glob.glob(os.path.join(dump_dir, "*.pstats"))),
        0.0,
    )
