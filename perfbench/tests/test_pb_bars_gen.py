"""The bars generator is a pure function of its seed."""

from __future__ import annotations

import os

from perfbench import bars_gen


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _sub, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_lands_byte_identical_files(tmp_path):
    a = bars_gen.generate(str(tmp_path / "a"), seed=7)
    b = bars_gen.generate(str(tmp_path / "b"), seed=7)
    ta, tb = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert ta and ta == tb
    assert a.bytes_landed == b.bytes_landed == sum(len(v) for v in ta.values())
    assert a.base == b.base


def test_other_seed_lands_other_files(tmp_path):
    bars_gen.generate(str(tmp_path / "a"), seed=7)
    bars_gen.generate(str(tmp_path / "b"), seed=8)
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "b"))


def test_expected_state_matches_the_landed_files(tmp_path):
    land = bars_gen.generate(str(tmp_path), seed=3)
    late, lagging = land.symbols[-1], land.symbols[-2]
    full = set(os.listdir(land.full_dir))
    assert not any(f.startswith(late) for f in full)
    assert f"{lagging}-d1.json" not in full and f"{land.symbols[0]}-d1.json" in full
    lines = sum(
        sum(1 for _ in open(os.path.join(d, f)))
        for d in (land.full_dir, land.incr_dir)
        for f in os.listdir(d)
    )
    assert lines == land.rows_landed - sum(len(c.rows) for c in land.commits)
    # the silver table holds each landed (symbol, ts) once
    assert land.landed_keys == len(land.base) > land.full_keys
    assert len(land.symbols) == bars_gen.SYMBOLS and len(land.commits) == bars_gen.COMMITS
    # every restatement changes every row it lands
    for k, c in enumerate(land.commits):
        before = land.state_after(k)
        assert bars_gen.changed_keys(before, land.state_after(k + 1)) == len(c.rows)
