"""Tests for the benchmark's own pure logic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time
import types

import pytest

import check
import stats
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


# -- percentile choice -------------------------------------------------------
@pytest.mark.parametrize(
    "n, q",
    [
        (1, 50.0),
        (20, 50.0),  # no percentile above the median has ten beyond it
        (21, 50.0),
        (22, 100.0 * 11 / 21),
        (44, 100.0 * 33 / 43),
        (100, 100.0 * 89 / 99),
        (101, 90.0),  # p90 once ten samples lie beyond it
        (1000, 90.0),
    ],
)
def test_tail_percentile(n, q):
    assert stats.tail_percentile(n) == pytest.approx(q)


@pytest.mark.parametrize("n", [21, 22, 30, 44, 100, 101, 500])
def test_tail_has_ten_samples_beyond(n):
    xs = [float(i) for i in range(n)]
    lat = stats.Latency.of(xs)
    assert sum(1 for x in xs if x > lat.tail) >= stats.TAIL_BEYOND
    assert lat.tail >= lat.p50


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 90) == pytest.approx(3.7)


# -- self time ----------------------------------------------------------------
def test_self_time_subtracts_children():
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    assert stats.self_time(0.0, 10.0, [(1.0, 5.0), (4.0, 6.0), (4.5, 5.5)]) == pytest.approx(5.0)


def test_self_time_clips_children_to_parent():
    assert stats.self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0), (7.0, 8.0)]) == pytest.approx(2.0)


def test_tracer_self_time_and_parents():
    tr = Tracer()
    with tr.span("op", op="a"):
        with tr.span("build"):
            with tr.span("load"):
                time.sleep(0.02)
            time.sleep(0.01)
    spans = {s["name"]: s for s in tr.spans}
    assert spans["load"]["parent"] == spans["build"]["id"]
    assert spans["build"]["parent"] == spans["op"]["id"]
    assert {s["op"] for s in tr.spans} == {"a"}
    agg = tr.by_name()
    build = agg["build"]
    assert build["self_s"] == pytest.approx(build["total_s"] - agg["load"]["total_s"])
    assert 0.005 < build["self_s"] < build["total_s"]


def test_tracer_wraps_and_restores_module_function():
    def load_table(x):
        return x + 1

    mod = types.ModuleType("fakepkg.session")
    mod.load_table = load_table
    other = types.ModuleType("fakepkg.operators")
    other.load_table = load_table  # imported by name elsewhere
    sys.modules["fakepkg.session"], sys.modules["fakepkg.operators"] = mod, other
    try:
        tr = Tracer()
        tr.wrap_module_function("fakepkg", load_table, "session.load_table")
        assert mod.load_table(1) == 2 and other.load_table(2) == 3
        assert [s["name"] for s in tr.spans] == ["session.load_table"] * 2
        tr.restore()
        assert mod.load_table is load_table and other.load_table is load_table
    finally:
        del sys.modules["fakepkg.session"], sys.modules["fakepkg.operators"]


# -- metric names --------------------------------------------------------------
def test_metric_names_are_valid():
    import run

    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert all(stats.valid_metric_name(n) for n in names)
    assert len(names) == len(set(names))
    assert not stats.valid_metric_name("bad name")
    assert not stats.valid_metric_name(".leading")
    assert not stats.valid_metric_name("x" * 65)


def test_benchmark_json_matches_run_metrics():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


# -- throughput --------------------------------------------------------------
def test_throughput_is_the_median_over_passes():
    import run
    import workloads

    res = workloads.Result()
    for lat in ([1.0, 1.0], [1.0, 3.0], [0.5, 0.5]):  # 1.0, 0.5 and 2.0 ops/s
        res.latencies += lat
        res.end_pass()
    assert res.pass_sizes == [2, 2, 2]
    assert res.pass_throughputs() == pytest.approx([1.0, 0.5, 2.0])
    assert run._throughput(res) == pytest.approx(1.0)


def test_throughput_counts_every_client():
    import run
    import workloads

    res = workloads.Result(clients=4)
    res.latencies += [2.0] * 8
    res.end_pass()
    assert run._throughput(res) == pytest.approx(2.0)


# -- error_rate accounting ---------------------------------------------------
def test_error_rate_counts_raised_and_wrong():
    o = stats.Outcomes()
    for _ in range(7):
        o.record()
    o.record(raised=True, note="boom")
    o.record(wrong=True, note="bad rows")
    o.record(raised=True, wrong=True)  # an op that raised is not also wrong
    o.mark_wrong("checked after the timed region")
    assert (o.attempted, o.raised, o.wrong, o.failed) == (10, 2, 2, 4)
    assert o.error_rate == pytest.approx(0.4)


def test_error_rate_with_no_attempts_is_total_failure():
    assert stats.Outcomes().error_rate == 1.0


# -- result digests ----------------------------------------------------------
def test_digest_ignores_row_and_column_order():
    a = check.digest(["B", "a"], [(1, "x"), (2, "y")])
    b = check.digest(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b and check.compare(a, b) is None


def test_digest_is_type_strict():
    assert check.compare(check.digest(["a"], [(1,)]), check.digest(["a"], [(1.0,)])) == "values differ"


def test_arrow_digest_treats_utc_aware_timestamps_as_naive():
    import pyarrow as pa

    naive = dt.datetime(1996, 1, 2, 3, 4, 5)
    aware = pa.table({"t": pa.array([naive], pa.timestamp("us", tz="UTC"))})
    assert check.arrow_digest(aware) == check.digest(["t"], [(naive,)])


def test_compare_reports_row_count_and_columns():
    want = check.digest(["a"], [(1,), (2,)])
    assert check.compare(check.digest(["a"], [(1,)]), want).startswith("rows")
    assert check.compare(check.digest(["b"], [(1,), (2,)]), want).startswith("columns")
    assert check.compare(check.digest(["a"], [(1,)]), None) is None
