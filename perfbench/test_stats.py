"""Tests for the benchmark's arithmetic. Run: python3 -m pytest perfbench"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import Span, failed_frac, self_time_by_name, self_times, tail, write_amp  # noqa: E402


def test_tail_is_kth_smallest_with_ten_samples_beyond():
    vals = [float(i) for i in range(1, 101)]  # 1..100
    t = tail(vals)
    assert t["value"] == 90.0
    assert sum(v > t["value"] for v in vals) == 10
    assert t["percentile"] == 90.0
    assert t["n"] == 100 and t["rule_met"]


def test_tail_small_samples():
    t = tail([3.0, 1.0, 2.0] + [5.0] * 8)  # n = 11 -> k = 1, the minimum
    assert t["value"] == 1.0 and t["rule_met"]
    assert t["percentile"] == round(100 / 11, 2)
    t = tail([4.0, 9.0, 1.0])  # no percentile has ten samples beyond it
    assert t == {"value": 9.0, "percentile": 100.0, "n": 3, "rule_met": False}
    assert tail([])["n"] == 0


def test_tail_is_order_independent():
    vals = [0.5, 0.1, 0.9, 0.3, 0.7, 0.2, 0.8, 0.4, 0.6, 1.0, 1.1, 0.05]
    assert tail(vals) == tail(sorted(vals)) == tail(sorted(vals, reverse=True))
    assert tail(vals)["value"] == 0.1  # n = 12, k = 2


def test_self_time_subtracts_children():
    spans = [
        Span(1, "op", 0.0, 10.0, None),
        Span(2, "build", 1.0, 4.0, 1),
        Span(3, "load", 2.0, 3.0, 2),
        Span(4, "exec", 5.0, 9.0, 1),
    ]
    own = self_times(spans)
    assert own == pytest.approx({1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0})
    # the self times of all spans of an operation add up to its duration
    assert sum(own.values()) == pytest.approx(10.0)


def test_self_time_overlapping_and_overhanging_children():
    spans = [
        Span(1, "p", 0.0, 10.0, None),
        Span(2, "a", 2.0, 6.0, 1),
        Span(3, "b", 4.0, 8.0, 1),  # overlaps a: union is [2, 8]
        Span(4, "c", 9.0, 12.0, 1),  # runs past its parent: clipped to [9, 10]
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_ignores_grandchildren_directly():
    spans = [
        Span(1, "p", 0.0, 10.0, None),
        Span(2, "c", 0.0, 5.0, 1),
        Span(3, "g", 1.0, 2.0, 2),
    ]
    assert self_times(spans) == pytest.approx({1: 5.0, 2: 4.0, 3: 1.0})


def test_self_time_by_name_sums_repeats():
    spans = [
        Span(1, "op", 0.0, 4.0, None),
        Span(2, "load", 0.0, 1.0, 1),
        Span(3, "load", 2.0, 2.5, 1),
    ]
    assert self_time_by_name(spans) == pytest.approx({"op": 2.5, "load": 1.5})


def test_failed_frac():
    assert failed_frac(10, 0) == 0.0
    assert failed_frac(8, 2) == 0.25
    assert failed_frac(3, 3) == 1.0
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(2, 3)


def test_write_amp():
    assert write_amp(0, 100) == 0.0
    assert write_amp(250, 100) == 2.5
    with pytest.raises(ValueError):
        write_amp(10, 0)


def test_benchmark_json_names_the_metrics_run_py_reports():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
