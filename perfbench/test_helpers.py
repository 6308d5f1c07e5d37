"""Tests of the benchmark's own pure helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
from types import SimpleNamespace

import pytest

from perfbench import common, engine, metrics, stats
from perfbench.analytics import same_rows


@pytest.mark.parametrize(
    "n, want",
    [
        (0, None),
        (19, None),  # the median would have only 9 samples beyond it
        (20, 0.5),
        (39, 0.5),
        (40, 0.75),
        (99, 0.75),
        (100, 0.9),
        (199, 0.9),
        (200, 0.95),
        (1000, 0.99),
    ],
)
def test_tail_quantile_needs_ten_samples_beyond(n, want):
    assert stats.tail_quantile(n) == want
    if want is not None:
        assert stats.samples_beyond(n, want) >= stats.MIN_BEYOND


def test_samples_beyond_counts_exactly_at_float_edges():
    # 100 * (1 - 0.9) is 9.999999999999998 in floating point
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.samples_beyond(20, 0.5) == 10


def test_summarize_falls_back_to_the_median_when_no_tail_is_supported():
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail": 2.0, "tail_q": 0.5}
    big = stats.summarize([float(i) for i in range(101)])
    assert big["tail_q"] == 0.9 and big["tail"] == pytest.approx(90.0)


def test_quantile_interpolates_linearly():
    assert stats.quantile([0.0, 10.0], 0.25) == 2.5
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


def test_open_loop_latency_counts_from_the_due_time():
    # the second request was due at 1.0 but only sent at 2.5 behind a stall:
    # its latency includes the 1.5 s it waited to be sent
    due = [0.0, 1.0, 2.0]
    done = [0.4, 2.9, None]
    assert stats.open_loop_latencies(due, done) == pytest.approx([0.4, 1.9, None])
    with pytest.raises(ValueError):
        stats.open_loop_latencies(due, done[:2])


def test_delivery_is_the_first_completion_covering_the_batch():
    targets = [{"0": 5, "1": 3}, {"0": 5, "1": 7}, {"0": 9, "1": 7}]
    completions = [
        (1.0, {"0": 5, "1": 0}),  # partition 1 not reached yet
        (2.0, {"0": 5, "1": 3}),
        (3.0, {"0": 9, "1": 7}),  # covers the last two at once
    ]
    assert stats.delivery_times(targets, completions) == [2.0, 3.0, 3.0]
    assert stats.delivery_times([{"0": 10}], completions) == [None]


def _span(id, parent, name, start, end):
    return SimpleNamespace(id=id, parent=parent, name=name, start=start, end=end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, None, "cycle", 0.0, 10.0),
        _span(2, 1, "query", 1.0, 4.0),
        _span(3, 1, "query", 3.0, 6.0),  # overlaps the first child
        _span(4, 2, "scan", 1.5, 2.0),
        _span(5, 1, "late", 9.0, 12.0),  # runs past its parent: clipped
    ]
    got = stats.self_times(spans)
    assert got["cycle"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["query"] == pytest.approx(3.0 - 0.5 + 3.0)
    assert got["scan"] == pytest.approx(0.5)
    assert got["late"] == pytest.approx(3.0)


def test_cpu_between_keeps_jit_apart_and_counts_exits_once():
    s = 1_000_000_000
    before = {
        (1, engine.REAPED): (False, 0),
        (1, 1): (False, 5 * s),
        (1, 2): (True, 1 * s),
        (1, 3): (False, 9 * s),
        (2, engine.REAPED): (False, 0),
        (2, 2): (False, 3 * s),  # a worker that exits and is reaped by process 1
    }
    after = {
        (1, engine.REAPED): (False, 4 * s),  # the worker's whole life: 3 s before, 1 s after
        (1, 1): (False, 7 * s),  # +2 s of work
        (1, 2): (True, 4 * s),  # +3 s of compilation
        # thread (1, 3) exited in a live process and drops out
        (5, engine.REAPED): (False, 0),
        (5, 5): (False, s // 2),  # a worker started in between
    }
    got = engine.cpu_between(before, after)
    assert got.work_s == pytest.approx(2 + 1 + 0.5) and got.jit_s == pytest.approx(3.0)
    assert engine.cpu_between({}, before).work_s == pytest.approx(17.0)


def test_timing_figures_carry_unit_percentile_and_count():
    figs = common.timing_figures("tail.delivery", [float(i) for i in range(1, 6)])
    assert figs["tail.delivery_p50_s"] == {"value": 3.0, "unit": "s", "n": 5}
    assert figs["tail.delivery_tail_s"] == {"value": 3.0, "unit": "s", "q": 0.5, "n": 5}


def test_iqr_share_matches_statistics_quantiles():
    assert stats.iqr_share([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_same_rows_ignores_order_and_last_digit_rounding():
    a = (["k", "v"], [("x", 1.00005), ("y", 2.0)])
    b = (["v", "k"], [(2.0, "y"), (1.0, "x")])
    assert same_rows(*a, *b) is None
    assert same_rows(*a, ["v", "k"], [(2.0, "y"), (1.1, "x")]) is not None
    assert same_rows(*a, ["k", "v"], [("x", 1.0)]) is not None
    assert same_rows(["k"], [(None,)], ["k"], [(None,)]) is None
    assert same_rows(["k"], [(math.nan,)], ["k"], [(math.nan,)]) is None


def test_benchmark_json_matches_the_metric_map():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()


def test_metric_map_is_consistent():
    names = [m.name for m in (*metrics.END_TO_END, *metrics.PER_LAYER)]
    assert len(names) == len(set(names))
    assert any(m.name == "setup_s" and m.unit == "s" and m.better == "lower" for m in metrics.END_TO_END)
    assert max(m.bound for m in metrics.END_TO_END) == next(m.bound for m in metrics.END_TO_END if m.name == "setup_s")
    for m in metrics.PER_LAYER:
        assert set(m.on) | set(m.quiet_on) <= set(metrics.WORKLOADS), m.name
