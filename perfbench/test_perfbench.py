"""Self-tests for the benchmark's trace parsing (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import cProfile
import json
import os

import pytest

from layer_report import PER_LAYER
from tracing import aggregate_events, event_log_files, profile_seconds, read_events, self_times, subtree, tail

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")


def span(i, parent, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "trace_id": "p", "start": start, "end": end}


def test_self_time_subtracts_children_and_sums_to_wall():
    spans = [
        span(0, None, 0.0, 10.0, "pass"),
        span(1, 0, 1.0, 4.0, "op"),
        span(2, 1, 1.5, 2.5, "build"),
        span(3, 1, 2.5, 3.5, "sink"),
        span(4, 0, 5.0, 9.0, "op"),
    ]
    selfs = self_times(spans)
    assert selfs == pytest.approx({0: 3.0, 1: 1.0, 2: 1.0, 3: 1.0, 4: 4.0})
    assert sum(selfs[s["id"]] for s in subtree(spans, 0)) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 6.0), span(2, 0, 4.0, 8.0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_tail_needs_ten_samples_beyond_the_percentile():
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert tail([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    assert tail([float(i) for i in range(1, 1001)]) == (99.0, 990.0)


def test_rolled_event_log_is_read_in_part_order():
    files = event_log_files(FIXTURES)
    assert [os.path.basename(f) for f in files] == ["events_1_local-0001", "events_2_local-0001"]
    kinds = [e["Event"] for e in read_events(FIXTURES)]
    assert kinds[0] == "SparkListenerJobStart" and kinds[-1] == "SparkListenerJobEnd"


def test_event_log_aggregates_by_job_description():
    agg = aggregate_events(read_events(FIXTURES))
    assert set(agg) == {"p0:count", "p0:agg", ""}
    count, group = agg["p0:count"], agg["p0:agg"]
    assert (count["jobs"], count["stages"], count["tasks"]) == (1, 2, 3)
    assert (group["jobs"], group["stages"], group["tasks"]) == (1, 2, 5)
    assert group["task_run_s"] == pytest.approx(0.55)
    assert group["task_wait_s"] == pytest.approx(0.176)
    assert group["shuffle_write_bytes"] == 270
    assert group["result_bytes"] == 18833
    assert count["jvm_cpu_s"] == pytest.approx(0.20878389)
    assert all(a["failed_tasks"] == 0 and a["spill_bytes"] == 0 for a in agg.values())


def test_profile_seconds_sums_the_dumped_stats(tmp_path):
    prof = cProfile.Profile()
    prof.runcall(sum, range(100_000))
    prof.dump_stats(str(tmp_path / "udf_1_perf.pstats"))
    prof.dump_stats(str(tmp_path / "udf_2_perf.pstats"))
    assert profile_seconds(str(tmp_path)) > 0
    assert profile_seconds(str(tmp_path / "missing")) == 0.0


def test_benchmark_json_declares_the_reported_layers():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer"]
    assert [(m["name"], m["unit"], m["better"]) for m in declared] == PER_LAYER
