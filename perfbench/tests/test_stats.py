"""The percentile rule and its sample counts."""

from __future__ import annotations

import math

import pytest

from harness import beyond, geomean, latency_summary, median, percentile, tail_percentile


def test_nearest_rank_percentile():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 50) == 50
    assert percentile(values, 99) == 99
    assert percentile(values, 100) == 100
    assert percentile(values, 0) == 1
    assert percentile([7], 99) == 7
    assert percentile([3, 1, 2], 50) == 2  # order of input is irrelevant


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_lost_samples_count_as_over_any_limit():
    values = [1.0] * 98 + [math.inf] * 2
    assert percentile(values, 98) == 1.0
    assert percentile(values, 99) == math.inf


def test_beyond_counts_samples_above_the_percentile():
    assert beyond(100, 99) == 1
    assert beyond(1000, 99) == 10
    assert beyond(1000, 90) == 100
    assert beyond(10, 50) == 5


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(10_000) == 99.9  # 10 beyond p99.9
    assert tail_percentile(9_999) == 99.0
    assert tail_percentile(1_000) == 99.0
    assert tail_percentile(999) == 90.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(99) is None


def test_latency_summary_reports_counts():
    s = latency_summary([float(v) for v in range(1, 2001)])
    assert s["p50"] == 1000.0
    assert s["p99"] == 1980.0
    assert (s["n"], s["beyond"], s["supported"]) == (2000, 20, True)
    small = latency_summary([1.0, 2.0, 3.0])
    assert small["supported"] is False and small["highest_supported"] is None


def test_median_and_geomean():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
