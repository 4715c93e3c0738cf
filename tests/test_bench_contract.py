"""Pin bench.py's one-line-JSON stdout contract (VERDICT r13 item 3/#4).

The external driver parses the bench's single stdout JSON line to build
its round-over-round comparison; r12's line failed to parse driver-side
(`prev_bench_ok: false`, `n_common: 0`), silencing the comparison
entirely. These tests exercise the emission helper with a payload shaped
like the real one so a formatting regression fails HERE, not two rounds
later in a driver artifact.
"""

from __future__ import annotations

import json

import pytest

import bench


REPRESENTATIVE = {
    "metric": "concurrent_wall_headline_set",
    "value": 5.026,
    "unit": "sec",
    "queries": {"q1_pricing_summary": 0.243, "rlhf_bradley_terry": 1.482},
    "sf": 0.1,
    "n_queries": 32,
    "sequential_total_sec": 18.305,
    "concurrent_wall_sec": 5.026,
    "duckdb_baseline_sec": 5.095,
    "duckdb_queries": {"q1_pricing_summary": 0.071},
    "errors": {},
    "seq_over_duckdb": 3.59,
    "conc_over_duckdb": 0.99,
    "spark_job_floor_sec": 0.042,
    "drift": {
        "duckdb_band_pct": 9.0,
        "concurrent_band_pct": 16.0,
        "note": "unicode survives the line: — ±0.15",
    },
    "ab_second_run": {"concurrent_wall_sec": 4.223, "note": "—"},
    "cluster_profile": {
        "confs": {"spark.sql.shuffle.partitions": "2000 (AQE coalesces)"},
        "queries": {"q1_pricing_summary": 0.215},
        "plan_shape_identical": {"q1_pricing_summary": True},
    },
    "floor_decomposition": "multi—byte em dash and a ratio 3.59",
    "cache_policy": "released at each query entry",
}


def test_json_line_round_trips():
    line = bench._json_line(REPRESENTATIVE)
    assert "\n" not in line and "\r" not in line
    assert json.loads(line) == REPRESENTATIVE


def test_json_line_is_single_physical_line_even_with_embedded_newline_text():
    payload = dict(REPRESENTATIVE)
    # json.dumps escapes embedded newlines inside strings — the line stays
    # one physical line; pin that assumption.
    payload["cache_policy"] = "first\nsecond"
    line = bench._json_line(payload)
    assert "\n" not in line
    assert json.loads(line)["cache_policy"] == "first\nsecond"


def test_json_line_rejects_nonfinite():
    payload = dict(REPRESENTATIVE)
    payload["value"] = float("inf")
    with pytest.raises(ValueError):
        bench._json_line(payload)


def test_drift_band_is_symmetric():
    assert bench._band(1.0, 1.2) == bench._band(1.2, 1.0) == 20.0
