"""BENCHMARK.json, the metric tables and the command agree."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

from perfbench.check import digest, norm_cell
from perfbench.metrics import END_TO_END, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_metric_names_use_the_allowed_characters():
    names = [n for n, _u in END_TO_END + PER_LAYER]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))


def test_benchmark_json_lists_the_reported_metrics():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_benchmark_json_workloads_exist():
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_command_without_the_engine_exits_nonzero_and_prints_nothing(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "olap_small",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_digest_ignores_row_and_column_order_and_integer_width():
    a = digest(["b", "a"], [(1, "x"), (2.0, None)])
    b = digest(["a", "b"], [(float("nan"), 2), ("x", 1.0)])
    assert a == b and a[0] == 2
    assert norm_cell(-0.0) == norm_cell(0) == "0"
    assert digest(["a"], [(1,)]) != digest(["a"], [(2,)])
