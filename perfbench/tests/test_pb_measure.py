"""Percentiles, the tail rule and the one-line result."""

from __future__ import annotations

import json
import math

import pytest

from perfbench.measure import latency_summary, percentile, result_line, tail_pct


def _beyond(n: int, p: int) -> int:
    """Samples after the interpolation position of percentile p."""
    return n - 1 - (n - 1) * p // 100


@pytest.mark.parametrize("n", [22, 25, 32, 40, 64, 100, 101, 333, 1000])
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n):
    p = tail_pct(n)
    assert _beyond(n, p) >= 10
    assert p == 100 or _beyond(n, p + 1) < 10


def test_tail_known_values():
    assert tail_pct(32) == 70
    assert tail_pct(1000) == 99
    assert tail_pct(110) == 91
    assert tail_pct(20) == 52


@pytest.mark.parametrize("n", [1, 5, 10, 11, 18, 19])
def test_tail_falls_back_to_the_median_with_few_samples(n):
    assert tail_pct(n) == 50


def test_latency_summary_states_percentile_and_count():
    xs = [float(i) for i in range(1, 33)]
    s = latency_summary(xs)
    assert s["n"] == 32 and s["tail_pct"] == 70
    assert s["p50_s"] == 16.5
    assert math.isclose(s["tail_s"], percentile(xs, 70))
    assert sum(x > s["tail_s"] for x in xs) >= 10


def test_percentile_interpolates_like_numpy():
    xs = [3.0, 1.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert math.isclose(percentile(xs, 90), 3.7)


def test_result_is_one_parseable_line():
    line = result_line(True, 12, 0, {"setup_s": (1.25, "s"), "peak_rss_mb": (900.5, "MB")})
    assert "\n" not in line
    doc = json.loads(line)
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert doc["metrics"]["setup_s"] == {"value": 1.25, "unit": "s"}


@pytest.mark.parametrize(
    "metrics",
    [{"bad name": (1.0, "s")}, {"x": (1.0, "bad unit")}, {"x": (float("nan"), "s")}, {"_x": (1.0, "s")}],
)
def test_result_rejects_bad_names_units_and_values(metrics):
    with pytest.raises(ValueError):
        result_line(True, 1, 0, metrics)
