"""Pure helpers: percentiles, the tail rule, host noise, memory and the
one-line result. Nothing here imports Spark, so the benchmark's own
tests run without a JVM."""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import threading

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int, beyond: int = 10) -> int:
    """The highest whole percentile, at least the median, whose
    interpolation position in ``n`` sorted samples leaves ``beyond`` or
    more samples after it. With too few samples the median stands in;
    the record states the percentile used and the sample count."""
    for p in range(100, 50, -1):
        if n - 1 - (n - 1) * p // 100 >= beyond:
            return p
    return 50


def latency_summary(values: list[float]) -> dict:
    """Median and tail of a latency list, with the tail's percentile and
    the sample count stated."""
    p = tail_pct(len(values))
    return {
        "p50_s": statistics.median(values),
        "tail_s": percentile(values, p),
        "tail_pct": p,
        "n": len(values),
    }


# -- host noise --------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()[1:]
    vals = [int(x) for x in fields[:8]]
    return vals[7], sum(vals)


def host_block(before: tuple[int, int], after: tuple[int, int]) -> dict:
    steal = after[0] - before[0]
    total = after[1] - before[1]
    return {
        "steal_pct": 100.0 * steal / total if total > 0 else 0.0,
        "loadavg_1m": os.getloadavg()[0],
        "nproc": os.cpu_count() or 1,
    }


# -- memory ------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children", encoding="ascii") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all of its descendants."""
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(_children(pid))
    return total


class RssSampler:
    """Samples the resident memory of this process tree (driver Python,
    the JVM and its Python workers) and keeps the peak of the sum, and
    the peak of the driver Python process alone."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self.driver_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(pid))
            self.driver_peak_kb = max(self.driver_peak_kb, _rss_kb(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def driver_peak_mb(self) -> float:
        return self.driver_peak_kb / 1024.0


# -- output ------------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    """The one-line JSON result: ``metrics`` maps name -> (value, unit).
    Raises on a bad name or unit or a non-finite value rather than
    printing a line a strict parser would reject."""
    out = {}
    for name, (value, unit) in metrics.items():
        if not NAME_RE.match(name) or not UNIT_RE.match(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
        value = float(value)
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
        out[name] = {"value": value, "unit": unit}
    line = json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": out},
        allow_nan=False,
    )
    if "\n" in line:
        raise ValueError("result serialized to more than one line")
    return line
