"""Unit tests for the benchmark's own code: percentiles,
event-log parsing and the seeded fake API. Small fixed inputs, no Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import statistics
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import fakeapi  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

# ------------------------------------------------------------ percentile


def test_percentile_matches_statistics_inclusive_quartiles():
    xs = [7.0, 1.0, 3.0, 9.0, 4.0, 12.0, 5.5]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert stats.percentile(xs, 25) == pytest.approx(q1)
    assert stats.percentile(xs, 50) == pytest.approx(q2)
    assert stats.percentile(xs, 75) == pytest.approx(q3)


def test_percentile_interpolates_and_bounds():
    xs = [10.0, 20.0, 30.0, 40.0]
    assert stats.percentile(xs, 0) == 10.0
    assert stats.percentile(xs, 100) == 40.0
    assert stats.percentile(xs, 90) == pytest.approx(37.0)
    assert stats.median(xs) == 25.0
    assert stats.percentile([3.5], 90) == 3.5


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


# ------------------------------------------------------------- event log


def _events() -> list[str]:
    def task(stage, run_ms, py=None, **m):
        metrics = {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000 // 2,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": m.get("spill", 0),
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": m.get("input", 0)},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": m.get("sread", 0)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": m.get("swrite", 0)},
        }
        accs = [{"Name": k, "Update": str(v)} for k, v in (py or {}).items()]
        accs.append({"Name": "number of output rows", "Update": "9"})
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": accs}, "Task Metrics": metrics}

    evs = [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q#1:build"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1050,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "q#1:build"}},
        task(0, 40, input=100, swrite=30),
        task(0, 60, input=200, swrite=20, spill=5),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        task(2, 10, py={"time to start Python workers": 2,
                        "time to run Python workers": 7,
                        "data sent to Python workers": 64,
                        "data returned from Python workers": 16}),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1300},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "q#1:exec"}},
        task(3, 5, sread=50),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2040},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 2100,
         "Stage IDs": [4], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 2110},
    ]
    return [json.dumps(e) for e in evs] + [""]


def test_parse_event_log_groups_jobs_stages_and_tasks():
    g = tracing.parse_event_log(_events())
    b, e = g["q#1:build"], g["q#1:exec"]
    assert (b.jobs, b.stages, b.tasks) == (2, 2, 3)  # stage 1 skipped: not counted
    assert b.job_ms == 300.0  # [1000,1100] ∪ [1050,1300]
    assert (b.input_bytes, b.shuffle_write_bytes, b.spill_bytes) == (300, 50, 5)
    assert (b.run_ms, b.cpu_ns, b.gc_ms) == (110, 55_000_000, 3)
    assert (b.py_boot_ms, b.py_run_ms, b.py_init_ms) == (2, 7, 0)
    assert (b.py_bytes_sent, b.py_bytes_received) == (64, 16)
    assert (e.jobs, e.stages, e.tasks, e.job_ms, e.shuffle_read_bytes) == (1, 1, 1, 40.0, 50)
    assert g[""].jobs == 1


def test_union_ms_merges_overlaps():
    assert tracing.union_ms([]) == 0.0
    assert tracing.union_ms([(0, 10), (5, 20), (30, 31)]) == 21.0


def test_sample_layers_splits_an_op():
    groups = tracing.parse_event_log(_events())
    s = harness.OpSample("q", 2000.0, build_group="q#1:build", exec_group="q#1:exec",
                         layers={"fn_ms": 1000.0, "plan.optimization_ms": 20.0,
                                 "plan.planning_ms": 10.0})
    out = harness.sample_layers(s, groups)
    assert out["barrier.ms"] == 300.0 and out["queries.build_ms"] == 700.0
    assert out["exec.ms"] == 40.0 and out["exec.tasks"] == 4
    assert out["python.run_ms"] == 7.0
    assert out["driver.gap_ms"] == 2000.0 - 1000.0 - 40.0 - 30.0


# -------------------------------------------------------------- fake API


SCHEMA = {"id": "integer", "type": "string", "attributes_updatedAt": "datetime",
          "attributes_name": "string", "attributes_score": "float",
          "relationships_owner_data": "string", "relationships_owner_data_id": "integer"}


def _api(seed=5, **kw):
    return fakeapi.FakeOutreachApi(seed, {"prospects": SCHEMA}, {"prospects": 40},
                                   dt.date(2024, 3, 1), 3, **kw)


def test_mix_is_a_fixed_function():
    assert fakeapi.mix(1, 2, 3) == fakeapi.mix(1, 2, 3)
    assert fakeapi.mix(1, 2, 3) != fakeapi.mix(1, 2, 4)
    assert fakeapi.mix(0) == 0x6e789e6aa1b965f4  # pinned: pages must not change across versions


def test_fake_api_pages_are_pure_and_complete():
    params = {"filter[updatedAt]": "2024-03-01..2024-03-03", "page[limit]": 25}
    a, b = _api(), _api()
    seen, nxt = [], None
    while True:
        p = dict(params, **({"page[next]": nxt} if nxt else {}))
        page = a("prospects", dict(p))
        assert page == b("prospects", dict(p))
        seen += [(r["id"], r["attributes"]["updatedAt"]) for r in page.data]
        nxt = page.next_token
        if nxt is None:
            break
    assert len(seen) == len(set(seen)) == page.total == a.window_total("prospects")
    latest = {}
    for rid, stamp in seen:
        latest[rid] = max(latest.get(rid, stamp), stamp)
    want = a.expected("prospects")
    assert set(latest) == set(want)
    assert all(latest[i] == want[i].strftime("%Y-%m-%dT%H:%M:%S.000Z") for i in want)
    assert len(seen) > len(want)  # some ids are re-pulled with a newer updatedAt
    assert _api(seed=6).expected("prospects") != want


def test_fake_api_records_flatten_to_declared_columns():
    from_flatten = pytest.importorskip("outreach_etl_tool_spark.ingest.flatten")
    rec = _api()._record("prospects", 0, 3, 61)
    flat = from_flatten.flatten_record(rec)
    assert set(flat) <= set(SCHEMA)
    assert flat["attributes_updatedAt"] == "2024-03-01T00:01:01.000Z"
    assert "relationships_owner_data" not in flat  # a JSON null beside its child


def test_needed_calls_counts_probe_and_pages():
    a = _api()
    total = a.window_total("prospects")
    assert a.needed_calls("prospects", 25, 10_000) == 1 + math.ceil(total / 25)
    per_day = sum(math.ceil(len(a.day_versions("prospects", k)) / 25) for k in range(3))
    assert a.needed_calls("prospects", 25, 10) == 1 + per_day


# ------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_names_the_reported_metrics():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == harness.END_TO_END
    assert per_layer == harness.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"interactive", "sync_replicate"}
