"""Per-layer metrics of a traced run.

Layer times come from the benchmark's spans in the ``traced`` passes;
Spark's jobs, stages and task metrics from the event log, attributed to
ops by job description; Python-UDF seconds from the profiler dumps.
Latencies (per op, inference throughput, time per training step) come
from the ``plain`` passes of the same run, which have the profiler off
and plans unforced.  Counts and seconds summed over a pass are reported
per traced pass: the median for spans, the mean for event-log totals.
A metric whose layer the workload never calls reads 0.

``PER_LAYER`` is the list ``BENCHMARK.json`` declares; every traced run
prints all of it.
"""

from __future__ import annotations

import statistics

from tracing import SPARK_METRICS, aggregate_events, duration, read_events, self_times, subtree, tail
from workloads import COVTYPE_ROWS, RELATIONAL, UDF_OPERATORS

QUERIES = RELATIONAL + UDF_OPERATORS

SPARK_UNITS = {
    "jobs": ("count", "lower"), "stages": ("count", "lower"), "tasks": ("count", "lower"),
    "task_wait_s": ("s", "lower"), "task_run_s": ("s", "lower"), "jvm_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"), "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"), "result_bytes": ("bytes", "lower"),
    "failed_tasks": ("count", "lower"),
}

PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("sources.generate_s", "s", "lower"),
    ("sources.stage_s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("catalyst.plan_s", "s", "lower"),
    *[(f"spark.{k}", *SPARK_UNITS[k]) for k in SPARK_METRICS],
    ("udf.python_s", "s", "lower"),
    ("udf.share", "ratio", "lower"),
    ("featurize.init_keys_s", "s", "lower"),
    ("featurize.infer_s", "s", "lower"),
    ("featurize.infer_rows_per_s", "rows/s", "higher"),
    ("featurize.fit_epoch_s", "s", "lower"),
    ("featurize.train_step_s_p50", "s", "lower"),
    ("featurize.grad_pass_s", "s", "lower"),
    ("featurize.probe_pass_s", "s", "lower"),
    ("featurize.steps", "count", "higher"),
    ("featurize.probes", "count", "lower"),
    ("featurize.probe_accept_ratio", "ratio", "higher"),
    ("featurize.jobs_per_step", "count", "lower"),
    ("featurize.param_bytes", "bytes", "lower"),
    *[
        (f"op.{q}.{m}", unit, "lower")
        for q in QUERIES
        for m, unit in (("latency_p50_s", "s"), ("latency_tail_s", "s"), ("udf_python_s", "s"))
    ],
    ("memory.peak_rss_mb", "MB", "lower"),
    ("tracing.overhead_ratio", "ratio", "lower"),
]


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def report(workload, passes, spans, udf_s, events, direct, setup_s, peak_rss_mb):
    """(metrics for the result line, span tree and breakdown for the
    trace file)."""
    plain = [p for p in passes if p["label"].startswith("plain")]
    traced = [p for p in passes if p["label"].startswith("traced")]
    selfs = self_times(spans)

    def span_sums(p) -> dict[str, float]:
        sums: dict[str, float] = {}
        for s in subtree(spans, p["span"]["id"]):
            sums[s["name"]] = sums.get(s["name"], 0.0) + duration(s)
        return sums

    traced_sums = [span_sums(p) for p in traced]
    top = {s["name"]: duration(s) for s in spans if s["parent"] is None or s["name"].startswith("sources.")}

    spark = aggregate_events(read_events(events))
    labels = {p["label"] for p in traced}
    per_pass = dict.fromkeys(SPARK_METRICS, 0.0)
    for desc, agg in spark.items():
        if desc.split(":")[0] in labels:
            for k in SPARK_METRICS:
                per_pass[k] += agg[k] / len(traced)
    udf_per_pass = sum(v for d, v in udf_s.items() if d.split(":")[0] in labels) / len(traced)

    m: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}
    m["session.start_s"] = top.get("session.start", 0.0)
    m["sources.generate_s"] = top.get("sources.generate", 0.0)
    m["sources.stage_s"] = top.get("sources.stage", 0.0)
    m["queries.build_s"] = _median(s.get("queries.build", 0.0) for s in traced_sums)
    m["catalyst.plan_s"] = _median(s.get("catalyst.plan", 0.0) for s in traced_sums)
    for k in SPARK_METRICS:
        m[f"spark.{k}"] = per_pass[k]
    m["udf.python_s"] = udf_per_pass
    m["udf.share"] = udf_per_pass / per_pass["task_run_s"] if per_pass["task_run_s"] else 0.0

    tails = {}
    for q in QUERIES:
        lat = [p["latencies"][q] for p in plain if p["latencies"].get(q) is not None]
        if lat:
            pct, value = tail(lat)
            tails[q] = {"percentile": pct, "n": len(lat)}
            m[f"op.{q}.latency_p50_s"] = statistics.median(lat)
            m[f"op.{q}.latency_tail_s"] = value
            m[f"op.{q}.udf_python_s"] = _median(udf_s.get(f"{p['label']}:{q}", 0.0) for p in traced)

    stats = getattr(workload, "stats", None)
    if stats is not None:
        fit_ops = [op for op in workload.ops if op.startswith("fit_e")]
        m["featurize.init_keys_s"] = _median(s.get("featurize.init_keys", 0.0) for s in traced_sums)
        m["featurize.infer_s"] = _median(s.get("featurize.infer", 0.0) for s in traced_sums)
        m["featurize.fit_epoch_s"] = _median(
            duration(s) for p in traced for s in subtree(spans, p["span"]["id"]) if s["name"] == "featurize.fit"
        )
        infer = _median(p["latencies"]["infer"] for p in plain if p["latencies"].get("infer") is not None)
        m["featurize.infer_rows_per_s"] = COVTYPE_ROWS / infer if infer else 0.0
        m["featurize.train_step_s_p50"] = _median(
            p["latencies"][op] / stats[p["label"]][op][0]
            for p in plain
            for op in fit_ops
            if p["latencies"].get(op) is not None
        )
        steps = [sum(stats[p["label"]].get(op, (0, 0))[0] for op in fit_ops) for p in traced]
        probes = [sum(stats[p["label"]].get(op, (0, 0))[1] for op in fit_ops) for p in traced]
        m["featurize.steps"] = _median(steps)
        m["featurize.probes"] = _median(probes)
        m["featurize.probe_accept_ratio"] = sum(steps) / sum(probes) if sum(probes) else 0.0
        fit_jobs = sum(
            agg["jobs"] for desc, agg in spark.items()
            if desc.split(":")[0] in labels and desc.split(":")[1].startswith("fit_e")
        )
        m["featurize.jobs_per_step"] = fit_jobs / sum(steps) if sum(steps) else 0.0
        for k in ("grad_pass_s", "probe_pass_s", "param_bytes"):
            m[f"featurize.{k}"] = direct.get(k, 0.0)

    m["memory.peak_rss_mb"] = peak_rss_mb
    pass_s = lambda ps: _median(duration(p["span"]) for p in ps)  # noqa: E731
    m["tracing.overhead_ratio"] = pass_s(traced) / pass_s(plain)

    pass_checks = []
    for p in passes:
        wall = duration(p["span"])
        self_sum = sum(selfs[s["id"]] for s in subtree(spans, p["span"]["id"]))
        pass_checks.append({
            "label": p["label"], "wall_s": wall, "self_sum_s": self_sum,
            "ok": abs(self_sum - wall) <= 1e-9 * max(wall, 1.0),
        })
    t0 = spans[0]["start"]
    trace = {
        "setup_s": setup_s,
        "spans": [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": selfs[s["id"]]} for s in spans
        ],
        "pass_self_time_check": pass_checks,
        "op_tail_percentile": tails,
        "spark_by_description": spark,
        "udf_s_by_description": udf_s,
    }
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {name: {"value": v, "unit": units[name]} for name, v in m.items()}, trace
