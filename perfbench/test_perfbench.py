"""Self-tests for the benchmark's checks, span arithmetic and metric names.

Pure Python, no Spark session:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from perfbench import checks
from perfbench.run import END_TO_END, PER_LAYER
from perfbench.trace import Span, read_event_log, self_time_by_name, self_times
from perfbench.workloads import make_late_batches

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"[A-Za-z0-9_.-]+")
MICROS = checks.MICROS


def _points(rows):
    return pd.DataFrame(rows, columns=["series_id", "ts_us", "value"]).astype(
        {"ts_us": np.int64, "value": np.float64}
    )


# --- tier checks ---------------------------------------------------------------


def test_closed_form_window_count():
    # 3000 samples, winlen 1024, hop 512: starts 1, 513, 1025, 1537 -> 4
    assert checks.num_windows(3000, 1024, 512) == 4
    assert checks.num_windows(1023, 1024, 512) == 0
    assert checks.expected_score_rows({"a": 3000, "b": 1024}, 1024, 512, arity=5) == 25


def test_tier_totals_pass_when_conserved():
    totals = {"1m": (10, 25, 1.5), "1h": (3, 25, 1.5 + 1e-15), "1d": (1, 25, 1.5)}
    assert checks.check_tier_totals(totals, expected_cnt=25) == []


def test_corrupted_tier_sum_fails_the_check():
    totals = {"1m": (10, 25, 1.5), "1h": (3, 25, 1.5), "1d": (1, 25, 2.5)}
    problems = checks.check_tier_totals(totals, expected_cnt=25)
    assert len(problems) == 1 and "1d.sum" in problems[0]


def test_lost_tier_rows_fail_the_check():
    totals = {"1m": (10, 24, 1.5), "1h": (3, 24, 1.5)}
    assert checks.check_tier_totals(totals, expected_cnt=25)


def test_corrupted_tier_row_fails_the_series_check():
    pts = _points([("s|energy", t * 10 * MICROS, float(t)) for t in range(30)])
    ref = checks.rollup_reference(pts, 60)
    assert checks.compare_tier(ref.copy(), ref) == []
    bad = ref.copy()
    bad.loc[1, "sum"] += 1e-6
    assert checks.compare_tier(bad, ref) == ["column sum differs beyond reassociation error"]
    bad = ref.copy()
    bad.loc[0, "max"] = np.nextafter(bad.loc[0, "max"], np.inf)
    assert checks.compare_tier(bad, ref) == ["column max is not bit-equal"]


def test_window_timestamps_truncate_like_spark():
    starts = np.array([1, 513, 1025], dtype=np.int64)
    ts = checks.window_timestamps_us(starts, 1000.0, 1_700_000_000)
    assert ts.tolist() == [1_700_000_000_001_000, 1_700_000_000_513_000, 1_700_000_001_025_000]


# --- store checks --------------------------------------------------------------


def test_duplicated_late_row_is_removed_not_double_counted():
    base = _points([("s", 1 * MICROS, 1.0), ("s", 2 * MICROS, 2.0)])
    late = _points(
        [
            ("s", 2 * MICROS, 2.0),  # exact re-delivery of a committed point
            ("s", 2 * MICROS, 2.5),  # correction: a new value at the same ts
            ("s", 2 * MICROS, 2.5),  # the correction delivered twice
        ]
    )
    expected = checks.expected_store(base, [late])
    assert sorted(zip(expected["ts_us"], expected["value"])) == [
        (1 * MICROS, 1.0), (2 * MICROS, 2.0), (2 * MICROS, 2.5)
    ]
    double_counted = pd.concat([expected, late.iloc[[0]]], ignore_index=True)
    assert checks.compare_point_sets(double_counted, expected) == [
        "store holds 4 points, expected 3"
    ]
    assert checks.compare_point_sets(expected.iloc[::-1], expected) == []


def test_point_sets_compare_value_bits():
    a = _points([("s", 0, 0.0)])
    b = _points([("s", 0, -0.0)])
    assert checks.compare_point_sets(a, b)


def test_late_batches_are_a_function_of_the_seed():
    # series "b" ends ten days before "a": lateness is bounded per series
    base = _points(
        [("a", t * 60 * MICROS, float(t)) for t in range(20_000)]
        + [("b", t * 60 * MICROS, float(t)) for t in range(20_000 - 14_400)]
    )
    one = make_late_batches(base, seed=7, n_batches=3)
    two = make_late_batches(base, seed=7, n_batches=3)
    other = make_late_batches(base, seed=8, n_batches=3)
    assert all(x.equals(y) for x, y in zip(one, two))
    assert not one[0].equals(other[0])
    newest = base.groupby("series_id")["ts_us"].max()
    for b in one:
        assert set(b["series_id"]) == {"a", "b"}
        cutoff = b["series_id"].map(newest) - 2 * 86_400 * MICROS
        assert (b["ts_us"] >= cutoff).all()


def test_dashboard_reference_interpolates_gaps():
    h = 3600 * MICROS
    day = 86_400 * MICROS * 20_000
    pts = _points([("s", day, 1.0), ("s", day + 1, 3.0), ("s", day + 3 * h, 8.0)])
    ref = checks.dashboard_reference(pts, day)
    assert ref["bucket_us"].tolist() == [day + i * h for i in range(4)]
    assert ref["is_gap"].tolist() == [False, True, True, False]
    assert ref["value"].tolist() == pytest.approx([2.0, 4.0, 6.0, 8.0])
    wrong = ref.assign(value=ref["value"] + [0, 0, 1e-3, 0])
    assert checks.compare_dashboard(wrong, ref) == ["read values differ"]


# --- tracing -------------------------------------------------------------------


def test_span_self_time_on_a_nested_trace():
    spans = [
        Span(0, None, "t1", "op", 0.0, 10.0),
        Span(1, 0, "t1", "a", 1.0, 3.0),
        Span(2, 0, "t1", "b", 2.0, 5.0),  # overlaps a: union is [1, 5]
        Span(3, 0, "t1", "c", 8.0, 12.0),  # ends after its parent: clipped
        Span(4, 2, "t1", "b.inner", 2.5, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(0.5)
    by_name = self_time_by_name(spans + [Span(5, None, "t2", "a", 20.0, 21.0)])
    assert by_name["a"] == pytest.approx(3.0)


def test_event_log_groups_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "t1/3"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 5, "Executor CPU Time": 7, "JVM GC Time": 1,
                          "Memory Bytes Spilled": 2, "Disk Bytes Spilled": 3,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 11}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": {}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Accumulables": [
             {"Name": "data sent to Python workers", "Value": "100"}]}},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events))
    got = read_event_log(log)
    assert got["t1/3"] == {
        "jobs": 1, "tasks": 1, "executor_run_ms": 5, "executor_cpu_ns": 7, "gc_ms": 1,
        "spill_bytes": 5, "shuffle_write_bytes": 11, "python_sent_bytes": 100.0,
    }
    assert got[""]["failed_tasks"] == 1


# --- failed runs -----------------------------------------------------------------


@pytest.mark.parametrize("workload", ["tiers_spectral", "store_rw"])
def test_a_run_whose_ops_all_fail_still_reports(workload):
    from perfbench import run as bench_run
    from perfbench import workloads as W
    from perfbench.session import Run

    spec = W.WORKLOADS[workload]
    kinds = ["fused"] * 3 if spec.kind == "tiers" else ["write", "merge", "read", "read"]
    run = Run.__new__(Run)
    run.spec, run.setup_s = spec, 12.5
    run.ops = [W.Op(k, wall=1.0, points=100, problems=["lost windows"]) for k in kinds]
    run.info = {"bytes_after_write": 1000, "points": 100}
    metrics = bench_run.end_to_end(run, peak_rss=2**30)
    assert metrics["points_per_s"]["value"] is None
    assert metrics["op_p50_ms"]["value"] is None
    assert metrics["setup_s"]["value"] == 12.5
    summary = run.summary(2**30)
    assert summary["failed_op_share"]["failed"] == len(kinds)
    assert json.loads(json.dumps(summary))  # no NaN: valid JSON
    run.layer = {}
    run.stop_session = lambda: None
    layer = bench_run.per_layer(run)
    assert set(layer) == set(PER_LAYER)
    assert all(m["value"] is None for m in layer.values())


# --- metric names --------------------------------------------------------------


def test_every_metric_name_is_well_formed():
    names = [*END_TO_END, *PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name) and len(name) <= 64, name


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
