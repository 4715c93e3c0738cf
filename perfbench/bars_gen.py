"""Seeded generator for the ``bars_ingest`` workload.

It lands newline-JSON 1-minute bars in the wire layout the engine's
ingest reads (``RAW_SCHEMA`` plus ``symbol``) and keeps, beside the
files, the state a correct engine must end in. The engine only ever
sees the files; the expected state stays in this process.

Layout under ``out_dir``::

    full/<symbol>-d<day>.json        the full load
    incr/<symbol>-d<day>.json        the incremental load (overlaps the
                                     last full day; adds a new day)
    restate/c<k>/<symbol>.json       restatement commit k

Shape: ``SYMBOLS`` symbols, ``DAYS`` trading days, ``COMMITS``
restatement commits; the values are drawn from ``seed``.

- Each day spans 960 one-minute slots (08:00-23:59 UTC, so every
  session band is present). As in real 1-minute data, the regular
  session is dense and the extended hours are thin: 3% of the regular
  minutes and 60% of the others have no bar.
- The full load covers every day but the last. One symbol is listed late
  (absent from the full load) and one lags (its last full day is
  missing), so the incremental load exercises per-symbol watermarks.
- Each restatement commit rewrites the close/volume of a run of
  existing bars in two symbols and appends a few late bars after the
  last minute of one of them.

Prices are a random walk in integer cents, so every value survives the
JSON round trip exactly.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

DAY0_MS = 1_709_510_400_000  # 2024-03-04 00:00:00 UTC
MINUTE_MS = 60_000
FIRST_MINUTE = 8 * 60  # 08:00 UTC
MINUTES_PER_DAY = 960
# 14:30-21:00 UTC, the regular session (09:30-16:00 in New York, which
# is on EST for these dates), as minutes after FIRST_MINUTE.
REGULAR = range(390, 781)
GAP_RATE = 0.03
EXTENDED_GAP_RATE = 0.6
SYMBOLS = 40
DAYS = 3
COMMITS = 2

# (o, h, l, c, v, vw, n) in wire units: prices in cents, vw in cents,
# volume and trade count as whole numbers.
Bar = tuple[int, int, int, int, int, int, int]
Key = tuple[str, int]  # (symbol, epoch ms)


@dataclass
class Commit:
    """One restatement commit: the rows it lands and where they live."""

    path: str
    rows: dict[Key, Bar]
    symbols: tuple[str, ...]


@dataclass
class Landing:
    seed: int
    symbols: tuple[str, ...]
    full_dir: str
    incr_dir: str
    full_keys: int  # distinct (symbol, ts) in the full load
    landed_keys: int  # distinct (symbol, ts) over full + incremental
    incr_rows: int  # rows in the incremental batch, overlap included
    base: dict[Key, Bar]  # the silver table after both loads
    commits: list[Commit] = field(default_factory=list)
    bytes_landed: int = 0
    rows_landed: int = 0
    _states: dict[int, dict[Key, Bar]] = field(default_factory=dict, repr=False)

    def state_after(self, n_commits: int) -> dict[Key, Bar]:
        """Expected table contents after the base and ``n_commits``
        restatement commits. The dict is shared: do not modify it."""
        if n_commits not in self._states:
            state = dict(self.base)
            for c in self.commits[:n_commits]:
                state.update(c.rows)
            self._states[n_commits] = state
        return self._states[n_commits]


def symbol_names(n: int) -> tuple[str, ...]:
    return tuple(f"S{i:03d}" for i in range(n))


def _line(sym: str, t: int, bar: Bar) -> str:
    o, h, l, c, v, vw, n = bar
    return (
        f'{{"t": {t}, "o": {o / 100:.2f}, "h": {h / 100:.2f}, '
        f'"l": {l / 100:.2f}, "c": {c / 100:.2f}, "v": {v}.0, '
        f'"vw": {vw / 100:.2f}, "n": {n}.0, "symbol": "{sym}"}}\n'
    )


def _write(path: str, sym: str, rows: list[tuple[int, Bar]]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    body = "".join(_line(sym, t, b) for t, b in rows)
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write(body)
    return len(body)


def _bar(rng: random.Random, price: int) -> tuple[Bar, int]:
    o = price
    c = max(100, o + rng.randint(-25, 25))
    h = max(o, c) + rng.randint(0, 10)
    l = max(1, min(o, c) - rng.randint(0, 10))
    v = rng.randint(100, 50_000)
    vw = (o + h + l + c) // 4
    n = rng.randint(1, 400)
    return (o, h, l, c, v, vw, n), c


def generate(out_dir: str, seed: int) -> Landing:
    """Land one seeded instance under ``out_dir`` and return its
    expected state. The same seed always writes byte-identical files."""
    rng = random.Random(seed)
    syms = symbol_names(SYMBOLS)
    late, lagging = syms[-1], syms[-2]
    series: dict[str, list[list[tuple[int, Bar]]]] = {}
    for sym in syms:
        price = rng.randint(1_000, 50_000)
        per_day = []
        for d in range(DAYS):
            day = []
            for m in range(MINUTES_PER_DAY):
                bar, price = _bar(rng, price)
                if rng.random() < (GAP_RATE if m in REGULAR else EXTENDED_GAP_RATE):
                    continue
                t = DAY0_MS + (d * 1440 + FIRST_MINUTE + m) * MINUTE_MS
                day.append((t, bar))
            per_day.append(day)
        series[sym] = per_day

    full_dir = os.path.join(out_dir, "full")
    incr_dir = os.path.join(out_dir, "incr")
    landed_bytes = 0
    landed_rows = 0
    full_keys: set[Key] = set()
    for sym in syms:
        if sym == late:
            continue
        last_full = DAYS - 2 if sym != lagging else DAYS - 3
        for d in range(last_full + 1):
            rows = series[sym][d]
            landed_bytes += _write(os.path.join(full_dir, f"{sym}-d{d}.json"), sym, rows)
            landed_rows += len(rows)
            full_keys.update((sym, t) for t, _ in rows)
    incr_rows = 0
    for sym in syms:
        for d in (DAYS - 2, DAYS - 1):
            rows = series[sym][d]
            landed_bytes += _write(os.path.join(incr_dir, f"{sym}-d{d}.json"), sym, rows)
            landed_rows += len(rows)
            incr_rows += len(rows)
    landed_days = {sym: range(DAYS - 2 if sym == late else 0, DAYS) for sym in syms}
    base: dict[Key, Bar] = {
        (sym, t): bar for sym in syms for d in landed_days[sym] for t, bar in series[sym][d]
    }
    landing = Landing(
        seed=seed,
        symbols=syms,
        full_dir=full_dir,
        incr_dir=incr_dir,
        full_keys=len(full_keys),
        landed_keys=len(base),
        incr_rows=incr_rows,
        base=base,
    )

    state = dict(base)
    for k in range(COMMITS):
        path = os.path.join(out_dir, "restate", f"c{k}")
        touched = tuple(sorted(rng.sample(syms, 2)))
        rows: dict[Key, Bar] = {}
        for sym in touched:
            keys = sorted(t for (s, t) in state if s == sym)
            start = rng.randrange(0, len(keys) - 120)
            for t in keys[start : start + 120]:
                o, h, l, c, v, vw, n = state[(sym, t)]
                c2 = c + rng.choice((-3, -2, -1, 1, 2, 3))
                rows[(sym, t)] = (o, max(h, c2), min(l, c2), c2, v + rng.randint(1, 99), vw, n)
        sym = touched[0]
        last = max(t for (s, t) in state if s == sym)
        price = state[(sym, last)][3]
        for i in range(1, 6):
            bar, price = _bar(rng, price)
            rows[(sym, last + i * MINUTE_MS)] = bar
        by_sym: dict[str, list[tuple[int, Bar]]] = {}
        for (s, t), bar in sorted(rows.items()):
            by_sym.setdefault(s, []).append((t, bar))
        for s, srows in by_sym.items():
            landed_bytes += _write(os.path.join(path, f"{s}.json"), s, srows)
            landed_rows += len(srows)
        state.update(rows)
        landing.commits.append(Commit(path=path, rows=rows, symbols=touched))
    landing.bytes_landed = landed_bytes
    landing.rows_landed = landed_rows
    return landing


def changed_keys(before: dict[Key, Bar], after: dict[Key, Bar]) -> int:
    """Keys inserted, deleted or with any value changed between two
    expected states: what ``read_changes`` must return."""
    n = sum(1 for k, v in after.items() if before.get(k) != v)
    return n + sum(1 for k in before if k not in after)
