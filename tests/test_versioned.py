"""Versioned parquet table: atomic commit, snapshot isolation, manifest
pruning, optimistic concurrency, time travel, vacuum."""

from __future__ import annotations

import posixpath

import pytest

from us_stock_data_pipeline_spark.etl import versioned as V


def _rows(df):
    return sorted(tuple(r) for r in df.select("symbol", "ts", "px").collect())


def _mk(spark, data):
    return spark.createDataFrame(data, "symbol string, ts int, px double")


@pytest.fixture
def root(tmp_path):
    return str(tmp_path / "bars_v")


def test_merge_insert_update_keep(spark, root):
    v1 = V.versioned_merge_upsert(
        spark,
        _mk(spark, [("AAPL", 1, 10.0), ("AAPL", 2, 11.0), ("MSFT", 1, 20.0)]),
        root,
        key_cols=("symbol", "ts"),
    )
    assert v1 == 1
    # update one key, insert one, leave MSFT partition entirely untouched
    v2 = V.versioned_merge_upsert(
        spark,
        _mk(spark, [("AAPL", 2, 99.0), ("AAPL", 3, 12.0)]),
        root,
        key_cols=("symbol", "ts"),
    )
    assert v2 == 2
    assert _rows(V.read_versioned(spark, root)) == [
        ("AAPL", 1, 10.0),
        ("AAPL", 2, 99.0),
        ("AAPL", 3, 12.0),
        ("MSFT", 1, 20.0),
    ]


def test_untouched_partition_not_rewritten(spark, root):
    """The scale property: merging one symbol must NOT rewrite others —
    the untouched partition stays owned by its original version dir."""
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0)]), root, ("symbol", "ts")
    )
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 2, 11.0)]), root, ("symbol", "ts"))
    m = V.read_manifest(spark, root, 2)
    # dir names carry a per-attempt uuid suffix (race isolation); the
    # version prefix still pins which commit owns each partition
    assert m["symbol=MSFT"].startswith("versions/v00000001-")
    assert m["symbol=AAPL"].startswith("versions/v00000002-")


def test_reader_sees_old_snapshot_until_rename(spark, root):
    """Atomicity boundary: everything a merge writes before the manifest
    rename (scratch, the new version dir, the .tmp manifest) is invisible
    — a reader resolving the table mid-merge gets the complete OLD
    snapshot. Simulated by materializing exactly the pre-rename state."""
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0)]), root, ("symbol", "ts")
    )
    old = _rows(V.read_versioned(spark, root))
    # Pre-rename state of an in-flight merge: version dir + tmp manifest.
    upd = _mk(spark, [("AAPL", 1, 77.0)])
    abs_ver = posixpath.join(root, "versions", "v00000002-beef0002")
    upd.write.partitionBy("symbol").parquet(abs_ver)
    V._write_file(
        spark, posixpath.join(root, "manifests", ".tmp_inflight.json"), "{}"
    )
    assert V.current_version(spark, root) == 1
    assert _rows(V.read_versioned(spark, root)) == old  # complete old view
    # The rename IS the commit: one filesystem op flips readers to the
    # complete new view.
    msft_dir = V.read_manifest(spark, root, 1)["symbol=MSFT"]
    body = (
        '{"version": 2, "partitions": {"symbol=AAPL": '
        f'"versions/v00000002-beef0002", "symbol=MSFT": "{msft_dir}"}}}}'
    )
    tmp = posixpath.join(root, "manifests", ".tmp_c.json")
    V._write_file(spark, tmp, body)
    assert V._rename(spark, tmp, posixpath.join(root, "manifests", "v00000002.json"))
    assert _rows(V.read_versioned(spark, root)) == [
        ("AAPL", 1, 77.0),
        ("MSFT", 1, 20.0),
    ]


def test_commit_race_loser_does_not_clobber(spark, root):
    """_rename refuses an existing destination: the loser of a commit
    race cannot overwrite the winner's manifest."""
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    dst = posixpath.join(root, "manifests", "v00000001.json")
    tmp = posixpath.join(root, "manifests", ".tmp_loser.json")
    V._write_file(spark, tmp, "{}")
    assert not V._rename(spark, tmp, dst)
    assert V.read_manifest(spark, root, 1)  # winner's manifest intact


def test_time_travel_and_vacuum(spark, root):
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 11.0)]), root, ("symbol", "ts"))
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 12.0)]), root, ("symbol", "ts"))
    assert _rows(V.read_versioned(spark, root, version=1)) == [("AAPL", 1, 10.0)]
    assert _rows(V.read_versioned(spark, root, version=3)) == [("AAPL", 1, 12.0)]
    deleted = V.vacuum_versions(spark, root, keep_last=2, grace_seconds=0)
    assert deleted >= 2  # manifest v1 + version dir v1
    assert _rows(V.read_versioned(spark, root)) == [("AAPL", 1, 12.0)]
    assert _rows(V.read_versioned(spark, root, version=2)) == [("AAPL", 1, 11.0)]


def test_multi_column_partitioning(spark, root):
    df = spark.createDataFrame(
        [("AAPL", 2024, 1, 10.0), ("AAPL", 2024, 2, 11.0), ("MSFT", 2025, 1, 20.0)],
        "symbol string, yr int, ts int, px double",
    )
    V.versioned_merge_upsert(
        spark, df, root, key_cols=("symbol", "yr", "ts"), partition_cols=("symbol", "yr")
    )
    m = V.read_manifest(spark, root, 1)
    assert set(m) == {"symbol=AAPL/yr=2024", "symbol=MSFT/yr=2025"}
    got = sorted(
        tuple(r)
        for r in V.read_versioned(spark, root)
        .select("symbol", "yr", "ts", "px")
        .collect()
    )
    assert got == [
        ("AAPL", 2024, 1, 10.0),
        ("AAPL", 2024, 2, 11.0),
        ("MSFT", 2025, 1, 20.0),
    ]


def test_compact_collapses_owning_versions(spark, root):
    for i in range(1, 4):
        V.versioned_merge_upsert(
            spark, _mk(spark, [("AAPL", i, float(i)), ("MSFT", i, float(i))]), root, ("symbol", "ts")
        )
    before = _rows(V.read_versioned(spark, root))
    # 3 merges touched both partitions each time, but a table that
    # accumulated per-partition ownership across versions reads fan-out;
    # compaction rewrites the head into ONE version dir
    v = V.compact_table(spark, root)
    assert v == 4
    m = V.read_manifest(spark, root, v)
    assert len(set(m.values())) == 1
    assert next(iter(m.values())).startswith("versions/v00000004-")
    assert _rows(V.read_versioned(spark, root)) == before
    # old snapshots still readable until vacuumed
    assert _rows(V.read_versioned(spark, root, version=1)) == [
        ("AAPL", 1, 1.0),
        ("MSFT", 1, 1.0),
    ]


def test_manifest_level_partition_pruning(spark, root):
    V.versioned_merge_upsert(
        spark,
        _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0), ("GOOG", 1, 30.0)]),
        root,
        ("symbol", "ts"),
    )
    pruned = V.read_versioned(
        spark, root, partition_filter=lambda p: p["symbol"] == "MSFT"
    )
    assert _rows(pruned) == [("MSFT", 1, 20.0)]
    # the prune happens at the manifest: the scan plan reads ONE directory
    assert "symbol=MSFT" in pruned.inputFiles()[0]
    assert len({f.rsplit("/", 2)[1] for f in pruned.inputFiles()}) == 1
    import pytest

    with pytest.raises(LookupError):
        V.read_versioned(spark, root, partition_filter=lambda p: False)


def test_concurrent_reader_never_sees_torn_snapshot(spark, root):
    """REAL concurrency (not the simulated boundary test above): a
    writer thread commits full-table restatements v=1..6 where every
    row of version k carries px == k; reader threads hammer
    read_versioned concurrently and assert every snapshot they observe
    is internally CONSISTENT — all 20 keys present, all carrying the
    same px (a mix of two versions = a torn read, which the atomic
    manifest rename makes impossible)."""
    import threading

    keys = [("AAPL", i) for i in range(10)] + [("MSFT", i) for i in range(10)]

    def batch(k):
        return _mk(spark, [(s, t, float(k)) for s, t in keys])

    V.versioned_merge_upsert(spark, batch(1), root, ("symbol", "ts"))
    stop = threading.Event()
    errors: list[str] = []

    def reader():
        while not stop.is_set():
            rows = V.read_versioned(spark, root).select("symbol", "ts", "px").collect()
            if len(rows) != len(keys):
                errors.append(f"saw {len(rows)} rows")
                return
            vals = {r.px for r in rows}
            if len(vals) != 1:
                errors.append(f"torn snapshot: mixed versions {sorted(vals)}")
                return

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for k in range(2, 7):
            V.versioned_merge_upsert(spark, batch(k), root, ("symbol", "ts"))
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
    assert not errors, errors
    final = V.read_versioned(spark, root).select("px").distinct().collect()
    assert [r.px for r in final] == [6.0]


def test_concurrent_writers_disjoint_keys_both_survive(spark, root):
    """Two writers racing versioned_merge_upsert on DISJOINT keys (same
    partition, so they genuinely contend for the same manifest slots):
    optimistic concurrency must serialize them — both rows survive in
    the final snapshot, no commit is lost, no data dir is clobbered.
    This is the advisor's round-7 high finding: with shared v{N} data
    dirs, the race loser deleted the winner's committed bytes."""
    import threading

    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 0, 0.0)]), root, ("symbol", "ts")
    )
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def writer(ts: int, px: float):
        try:
            barrier.wait(timeout=60)
            V.versioned_merge_upsert(
                spark,
                _mk(spark, [("AAPL", ts, px)]),
                root,
                ("symbol", "ts"),
                max_commit_retries=10,
            )
        except BaseException as e:  # noqa: BLE001 - surfaced via assert
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(1, 11.0)),
        threading.Thread(target=writer, args=(2, 22.0)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert V.current_version(spark, root) == 3  # both commits landed
    assert _rows(V.read_versioned(spark, root)) == [
        ("AAPL", 0, 0.0),
        ("AAPL", 1, 11.0),
        ("AAPL", 2, 22.0),
    ]


def test_vacuum_grace_protects_inflight_writer(spark, root):
    """An unreferenced-but-brand-new attempt dir (a concurrent writer's
    fully-written, not-yet-committed data) must survive a vacuum with a
    grace window; its later manifest publish then commits intact data."""
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    # Simulate a writer paused between data write and manifest publish.
    inflight = posixpath.join(root, "versions", "v00000002-deadbeef")
    _mk(spark, [("AAPL", 2, 20.0)]).write.partitionBy("symbol").parquet(inflight)
    tmp = posixpath.join(root, "manifests", ".tmp_inflight.json")
    body = (
        '{"version": 2, "partitions": {"symbol=AAPL": '
        '"versions/v00000002-deadbeef"}}'
    )
    V._write_file(spark, tmp, body)
    # Vacuum with a grace horizon: the new orphan + tmp manifest survive.
    V.vacuum_versions(spark, root, keep_last=1, grace_seconds=3600)
    assert V._exists(spark, inflight)
    assert V._exists(spark, tmp)
    # The writer resumes and publishes — the commit is whole.
    assert V._rename(spark, tmp, posixpath.join(root, "manifests", "v00000002.json"))
    assert _rows(V.read_versioned(spark, root)) == [("AAPL", 2, 20.0)]


def test_deletion_vector_merge_on_read(spark, root):
    """versioned_delete commits only a key list; the head read hides the
    rows, time travel still sees them, a later upsert RE-INSERTING a
    deleted key wins over the old tombstone (version-scoped DVs), a
    merge touching the partition materializes the delete, and
    compaction clears every DV."""
    V.versioned_merge_upsert(
        spark,
        _mk(spark, [("AAPL", 1, 10.0), ("AAPL", 2, 11.0), ("MSFT", 1, 20.0)]),
        root,
        ("symbol", "ts"),
    )
    v2 = V.versioned_delete(
        spark,
        spark.createDataFrame([("AAPL", 2), ("MSFT", 1)], "symbol string, ts int"),
        root,
        ("symbol", "ts"),
    )
    assert v2 == 2
    assert _rows(V.read_versioned(spark, root)) == [("AAPL", 1, 10.0)]
    # time travel to the pre-delete snapshot
    assert len(_rows(V.read_versioned(spark, root, version=1))) == 3
    assert V.read_deletion_vectors(spark, root, 2)[0]["version"] == 2
    # re-insert one tombstoned key: the new row postdates the DV
    V.versioned_merge_upsert(
        spark, _mk(spark, [("MSFT", 1, 99.0)]), root, ("symbol", "ts")
    )
    assert _rows(V.read_versioned(spark, root)) == [
        ("AAPL", 1, 10.0),
        ("MSFT", 1, 99.0),
    ]
    # merge touching AAPL materializes the AAPL tombstone; DV list is
    # carried forward but no longer matches any surviving row
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 3, 12.0)]), root, ("symbol", "ts")
    )
    assert _rows(V.read_versioned(spark, root)) == [
        ("AAPL", 1, 10.0),
        ("AAPL", 3, 12.0),
        ("MSFT", 1, 99.0),
    ]
    # compaction rewrites everything and clears the DV list
    v5 = V.compact_table(spark, root)
    assert V.read_deletion_vectors(spark, root, v5) == []
    assert _rows(V.read_versioned(spark, root)) == [
        ("AAPL", 1, 10.0),
        ("AAPL", 3, 12.0),
        ("MSFT", 1, 99.0),
    ]
    # vacuum with no grace reclaims the now-unreferenced DV dir
    V.vacuum_versions(spark, root, keep_last=1, grace_seconds=0)
    assert V._list_names(spark, posixpath.join(root, "dvs")) == []


def test_schema_evolution_add_column(spark, root):
    """A later merge may ADD a column: old dirs read it as NULL (both
    in the head read and inside the merge's own rewrite), new rows
    carry it — Delta/Iceberg add-column semantics on plain parquet."""
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0)]), root, ("symbol", "ts")
    )
    upd = spark.createDataFrame(
        [("AAPL", 2, 11.0, "nasdaq")], "symbol string, ts int, px double, venue string"
    )
    V.versioned_merge_upsert(spark, upd, root, ("symbol", "ts"))
    got = sorted(
        tuple(r)
        for r in V.read_versioned(spark, root)
        .select("symbol", "ts", "px", "venue")
        .collect()
    )
    assert got == [
        ("AAPL", 1, 10.0, None),
        ("AAPL", 2, 11.0, "nasdaq"),
        ("MSFT", 1, 20.0, None),
    ]


def test_read_changes_all_change_types(spark, root):
    """Change data feed distinguishes insert / update_postimage /
    delete between two snapshots, with post-image values (NULL for
    deletes), and reports nothing for untouched keys."""
    V.versioned_merge_upsert(
        spark,
        _mk(spark, [("AAPL", 1, 10.0), ("AAPL", 2, 11.0), ("MSFT", 1, 20.0)]),
        root,
        ("symbol", "ts"),
    )
    V.versioned_merge_upsert(  # v2: update AAPL/2, insert AAPL/3
        spark, _mk(spark, [("AAPL", 2, 99.0), ("AAPL", 3, 12.0)]), root, ("symbol", "ts")
    )
    V.versioned_delete(  # v3: delete MSFT/1
        spark, spark.createDataFrame([("MSFT", 1)], "symbol string, ts int"), root, ("symbol", "ts")
    )
    ch = V.read_changes(spark, root, 1, 3, key_cols=("symbol", "ts"))
    got = sorted(
        (r.symbol, r.ts, r.px, r._change_type) for r in ch.collect()
    )
    assert got == [
        ("AAPL", 2, 99.0, "update_postimage"),
        ("AAPL", 3, 12.0, "insert"),
        ("MSFT", 1, None, "delete"),
    ]


def test_changed_partitions_compares_owner_and_gating_dvs():
    """The change planner is a pure manifest diff: a partition changed
    iff its owning dir or the set of DVs gating that dir differs. A DV
    older than the dir it would filter gates nothing."""
    dv2 = {"dir": "dvs/dv-a", "version": 2}
    dv5 = {"dir": "dvs/dv-b", "version": 5}
    v1, v3, v4 = (f"versions/v0000000{n}-0{n}" for n in (1, 3, 4))
    lo = {
        "partitions": {"s=A": v1, "s=B": v1, "s=C": v3, "s=D": v1},
        "deletion_vectors": [dv2],
    }
    hi = {
        "partitions": {"s=A": v1, "s=B": v4, "s=C": v3, "s=E": v4},
        "deletion_vectors": [],
    }
    # A: dv2 dropped; B: repointed; C: dv2 never gated v3; D gone; E new
    assert V._changed_partitions(lo, hi) == ["s=A", "s=B", "s=D", "s=E"]
    assert V._changed_partitions(
        {**lo, "deletion_vectors": [dv2, dv5]}, {**lo, "deletion_vectors": [dv5, dv2]}
    ) == []
    assert V._changed_partitions({}, hi) == sorted(hi["partitions"])


def _parquet_scans(df):
    """(partitions read, files read) of each parquet scan in `df`'s
    executed plan (collect `df` first)."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            m = node.metrics()
            out.append((m.apply("numPartitions").value(), m.apply("numFiles").value()))
    return out


def test_read_changes_scans_only_changed_partitions(spark, root):
    """Restating one of six symbols: the change feed equals the diff of
    the two full snapshots, and each snapshot's scan reads only the
    restated partition."""
    syms = [f"S{i}" for i in range(6)]
    V.versioned_merge_upsert(
        spark,
        _mk(spark, [(s, t, float(t)) for s in syms for t in (1, 2)]),
        root,
        ("symbol", "ts"),
        files_per_partition=1,
    )
    V.versioned_merge_upsert(
        spark,
        _mk(spark, [("S3", 1, 99.0), ("S3", 3, 3.0)]),
        root,
        ("symbol", "ts"),
        files_per_partition=1,
    )
    lo, hi = (
        {(r.symbol, r.ts): r.px for r in V.read_versioned(spark, root, v).collect()}
        for v in (1, 2)
    )
    full_diff = sorted(
        [(*k, hi[k], "insert") for k in hi.keys() - lo.keys()]
        + [(*k, None, "delete") for k in lo.keys() - hi.keys()]
        + [(*k, hi[k], "update_postimage") for k in lo.keys() & hi.keys() if lo[k] != hi[k]]
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ch = V.read_changes(spark, root, 1, 2, key_cols=("symbol", "ts"))
        got = sorted((r.symbol, r.ts, r.px, r._change_type) for r in ch.collect())
        scans = _parquet_scans(ch)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert got == full_diff == [
        ("S3", 1, 99.0, "update_postimage"),
        ("S3", 3, 3.0, "insert"),
    ]
    # one scan per snapshot; the five unchanged symbols are never read
    assert scans == [(1, 1), (1, 1)]


def test_rename_is_exclusive_under_contention(spark, tmp_path):
    """The publish primitive is a true CAS: N threads all trying to
    publish the same destination — exactly one wins, and the winner's
    bytes are what the destination holds (never a replace)."""
    import threading

    base = str(tmp_path / "cas")
    V._mkdirs(spark, base)
    dst = posixpath.join(base, "winner.json")
    wins: list[int] = []

    def racer(i: int, barrier):
        src = posixpath.join(base, f"src_{i}.json")
        V._write_file(spark, src, f'{{"writer": {i}}}')
        barrier.wait(timeout=60)
        if V._rename(spark, src, dst):
            wins.append(i)

    barrier = threading.Barrier(8)
    threads = [threading.Thread(target=racer, args=(i, barrier)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert len(wins) == 1, wins
    import json as _json

    assert _json.loads(V._read_file(spark, dst))["writer"] == wins[0]


def test_zone_map_stats_prune_files(spark, root):
    """Stats-enabled writes record per-file column min/max in the
    manifest, and a stat_filter read actually SKIPS files: the plan
    lists fewer files and the result is still exactly the matching
    rows. Files written per-ts-range land separately because each merge
    touches its own partition."""
    # two partitions, disjoint ts ranges -> distinct files with distinct
    # zone maps
    V.versioned_merge_upsert(
        spark,
        _mk(spark, [("AAPL", 1, 1.0), ("AAPL", 2, 2.0)]),
        root,
        ("symbol", "ts"),
        stats_cols=("ts", "px"),
    )
    V.versioned_merge_upsert(
        spark,
        _mk(spark, [("MSFT", 100, 10.0), ("MSFT", 200, 20.0)]),
        root,
        ("symbol", "ts"),
        stats_cols=("ts", "px"),
    )
    doc = V._read_manifest_doc(spark, root, V.current_version(spark, root))
    assert doc["stats_cols"] == ["ts", "px"]
    assert doc["file_stats"], "zone maps must be recorded"
    for f, st in doc["file_stats"].items():
        assert set(st) == {"ts", "px"} and st["ts"][0] <= st["ts"][1]

    # plan: ts in [100, 300] must keep MSFT's file(s) and skip AAPL's
    kept, skipped = V.plan_snapshot_files(spark, root, stat_filter={"ts": (100, 300)})
    kept_files = [f for fs in kept.values() for f in fs]
    assert skipped, "at least one file must be pruned"
    assert all("symbol=AAPL" in f for f in skipped)
    assert all("symbol=MSFT" in f for f in kept_files)

    # the pruned read returns exactly the matching rows
    got = _rows(
        V.read_versioned(spark, root, stat_filter={"ts": (100, 300)}).filter(
            "ts BETWEEN 100 AND 300"
        )
    )
    assert got == [("MSFT", 100, 10.0), ("MSFT", 200, 20.0)]

    # unbounded-side filter + no-stats safety: a filter on a column with
    # stats keeps correctness when nothing matches the range
    with pytest.raises(LookupError):
        V.read_versioned(spark, root, stat_filter={"ts": (9999, None)})


def test_zone_map_stats_survive_delete_and_compact(spark, root):
    """DV commits carry zone maps forward untouched; compaction
    re-harvests them for the fresh directory."""
    V.versioned_merge_upsert(
        spark,
        _mk(spark, [("AAPL", 1, 1.0), ("MSFT", 100, 10.0), ("MSFT", 200, 20.0)]),
        root,
        ("symbol", "ts"),
        stats_cols=("ts",),
    )
    V.versioned_delete(
        spark, _mk(spark, [("MSFT", 100, 0.0)]).select("symbol", "ts"), root,
        ("symbol", "ts"),
    )
    doc = V._read_manifest_doc(spark, root, V.current_version(spark, root))
    assert doc["file_stats"], "DV commit must not drop zone maps"
    # deleted row's stats stay as conservative bounds; reads stay correct
    assert _rows(V.read_versioned(spark, root, stat_filter={"ts": (0, 50)})) == [
        ("AAPL", 1, 1.0)
    ]
    V.compact_table(spark, root)
    doc2 = V._read_manifest_doc(spark, root, V.current_version(spark, root))
    assert doc2["stats_cols"] == ["ts"]
    assert doc2["file_stats"] and all(
        f.startswith(v) for f in doc2["file_stats"] for v in [list(doc2["partitions"].values())[0].split("/")[0]]
    )
    kept, skipped = V.plan_snapshot_files(spark, root, stat_filter={"ts": (0, 50)})
    assert skipped, "compacted table must still prune on zone maps"


def test_concurrent_writers_overlapping_keys_serialize(spark, root):
    """Two writers racing on the SAME key: the loser must retry on the
    winner's committed snapshot, and the final state must equal ONE of
    the two serial orders (last writer wins on the shared key) with
    both commits present in the version history — never a lost update,
    never a merged hybrid row."""
    import threading

    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 0.0)]), root, ("symbol", "ts")
    )
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def writer(px: float):
        try:
            barrier.wait(timeout=60)
            V.versioned_merge_upsert(
                spark,
                _mk(spark, [("AAPL", 1, px), ("AAPL", int(px), px)]),
                root,
                ("symbol", "ts"),
                max_commit_retries=10,
            )
        except BaseException as e:  # noqa: BLE001 - surfaced via assert
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(11.0,)),
        threading.Thread(target=writer, args=(22.0,)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert V.current_version(spark, root) == 3  # both commits landed
    rows = _rows(V.read_versioned(spark, root))
    serial_a = [("AAPL", 1, 22.0), ("AAPL", 11, 11.0), ("AAPL", 22, 22.0)]
    serial_b = [("AAPL", 1, 11.0), ("AAPL", 11, 11.0), ("AAPL", 22, 22.0)]
    assert rows in (serial_a, serial_b), rows
    # the shared key's final value must belong to whichever commit is v3
    v3_rows = _rows(V.read_versioned(spark, root, version=3))
    v2_rows = _rows(V.read_versioned(spark, root, version=2))
    assert v2_rows != v3_rows


def test_tags_pin_and_protect_from_vacuum(spark, root):
    """A tag resolves by name, re-tagging fails (CAS, create-only), and
    vacuum keeps the tagged snapshot readable outside the retention
    window."""
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 1.0)]), root, ("symbol", "ts"))
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 2.0)]), root, ("symbol", "ts"))
    assert V.create_tag(spark, root, "golden", version=1) == 1
    with pytest.raises(FileExistsError):
        V.create_tag(spark, root, "golden", version=2)
    for k in range(3, 7):
        V.versioned_merge_upsert(
            spark, _mk(spark, [("AAPL", 1, float(k))]), root, ("symbol", "ts")
        )
    V.vacuum_versions(spark, root, keep_last=1, grace_seconds=0.0)
    # tagged snapshot survives the retention window
    assert _rows(V.read_versioned(spark, root, ref="golden")) == [("AAPL", 1, 1.0)]
    assert V.list_refs(spark, root) == {"golden": 1}
    with pytest.raises(FileNotFoundError):
        V.resolve_ref(spark, root, "nope")


def test_restore_is_metadata_only_rollback(spark, root):
    """restore_version commits a NEW head equal to an old snapshot
    without touching data; intervening versions stay readable."""
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 1.0)]), root, ("symbol", "ts"))
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 2.0)]), root, ("symbol", "ts"))
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 3.0)]), root, ("symbol", "ts"))
    new_ver = V.restore_version(spark, root, 1)
    assert new_ver == 4
    assert _rows(V.read_versioned(spark, root)) == [("AAPL", 1, 1.0)]
    assert _rows(V.read_versioned(spark, root, version=3)) == [("AAPL", 1, 3.0)]
    # restored manifest equals the target's partitions mapping exactly
    assert (
        V._read_manifest_doc(spark, root, 4)["partitions"]
        == V._read_manifest_doc(spark, root, 1)["partitions"]
    )
    # a merge after the restore builds on the restored state
    V.versioned_merge_upsert(spark, _mk(spark, [("MSFT", 9, 9.0)]), root, ("symbol", "ts"))
    assert _rows(V.read_versioned(spark, root)) == [("AAPL", 1, 1.0), ("MSFT", 9, 9.0)]


def test_metadata_tables_history_and_files(spark, root):
    """versioned_history reports per-commit shape; versioned_files lists
    live files with zone maps when stats are recorded."""
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 1.0), ("MSFT", 2, 2.0)]), root,
        ("symbol", "ts"), stats_cols=("ts",),
    )
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 3, 3.0)]), root, ("symbol", "ts"),
        stats_cols=("ts",),
    )
    hist = {r.version: r for r in V.versioned_history(spark, root).collect()}
    assert hist[1].n_partitions == 2 and hist[1].n_partitions_written == 2
    assert hist[2].n_partitions == 2 and hist[2].n_partitions_written == 1
    assert hist[2].n_files_with_stats == 2  # AAPL rewritten + MSFT carried
    files = V.versioned_files(spark, root).collect()
    assert {r.partition for r in files} == {"symbol=AAPL", "symbol=MSFT"}
    import json as _json

    zm = {r.partition: _json.loads(r.zone_map) for r in files}
    assert zm["symbol=AAPL"]["ts"] == [1, 3]
    assert zm["symbol=MSFT"]["ts"] == [2, 2]


def test_orphan_audit_matches_vacuum_candidates(spark, root):
    """versioned_orphans reports exactly what a grace-0 vacuum reclaims
    (minus the age-gated live snapshot protection), and touches nothing."""
    for k in range(1, 4):
        V.versioned_merge_upsert(
            spark, _mk(spark, [("AAPL", 1, float(k))]), root, ("symbol", "ts")
        )
    before = _rows(V.read_versioned(spark, root))
    audit = V.versioned_orphans(spark, root, keep_last=2)
    assert len(audit["orphan_version_dirs"]) == 1  # v1's dir
    assert audit["orphan_version_dirs"][0].startswith("versions/v00000001-")
    assert audit["expired_manifests"] == ["manifests/v00000001.json"]
    assert len(audit["live_version_dirs"]) == 2
    assert _rows(V.read_versioned(spark, root)) == before  # read-only
    # a tag pins its version OUT of the orphan set
    V.create_tag(spark, root, "keep-v1", version=1)
    audit2 = V.versioned_orphans(spark, root, keep_last=2)
    assert audit2["orphan_version_dirs"] == []
    assert audit2["expired_manifests"] == []


def test_tag_racing_vacuum_published_before_relist_survives(spark, root, monkeypatch):
    """create_tag publishing BETWEEN vacuum's trash phase and its ref
    re-listing: the vacuum must RESTORE the trashed manifest (and keep
    its data dirs) so the tag's snapshot stays readable — the r9 gap
    where a tag pinned during vacuum could dangle."""
    for k in range(1, 5):
        V.versioned_merge_upsert(
            spark, _mk(spark, [("AAPL", 1, float(k))]), root, ("symbol", "ts")
        )
    calls = {"n": 0}
    real_list_refs = V.list_refs

    def racing_list_refs(spark_, root_):
        calls["n"] += 1
        # vacuum's SECOND listing (the post-trash one): the tagger has
        # just published a ref for expired version 1
        if calls["n"] == 2:
            body = '{"name": "golden", "version": 1}'
            V._mkdirs(spark_, posixpath.join(root_, "refs"))
            V._write_file(spark_, posixpath.join(root_, "refs", "golden.json"), body)
        return real_list_refs(spark_, root_)

    monkeypatch.setattr(V, "list_refs", racing_list_refs)
    V.vacuum_versions(spark, root, keep_last=1, grace_seconds=0.0)
    monkeypatch.undo()
    # the tagged snapshot survived: manifest restored, data dirs kept
    assert V.resolve_ref(spark, root, "golden") == 1
    assert _rows(V.read_versioned(spark, root, ref="golden")) == [("AAPL", 1, 1.0)]
    # non-tagged expired versions were still reclaimed
    with pytest.raises(Exception):
        V._read_manifest_doc(spark, root, 2)


def test_tag_losing_vacuum_race_removes_its_own_ref(spark, root, monkeypatch):
    """create_tag publishing AFTER vacuum reclaimed the manifest: the
    post-publish re-validation must delete the just-published ref and
    raise — never a dangling tag."""
    for k in range(1, 4):
        V.versioned_merge_upsert(
            spark, _mk(spark, [("AAPL", 1, float(k))]), root, ("symbol", "ts")
        )
    real_rename = V._rename

    def vacuum_between_validate_and_publish(spark_, src, dst):
        if "/refs/" in dst:
            # the vacuum wins the race just before the ref publishes
            V.vacuum_versions(spark_, root, keep_last=1, grace_seconds=0.0)
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(V, "_rename", vacuum_between_validate_and_publish)
    with pytest.raises(FileNotFoundError, match="lost a race with vacuum"):
        V.create_tag(spark, root, "golden", version=1)
    monkeypatch.undo()
    # no dangling ref left behind
    assert V.list_refs(spark, root) == {}


def test_restore_races_concurrent_writer_serializes(spark, root):
    """restore_version racing a concurrent merge: the CAS must serialize
    them — both commits land as DISTINCT versions (the loser retries on
    the winner's head, never clobbers it), history keeps every version
    readable, and the final head equals whichever op committed last."""
    import threading

    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 1.0)]), root, ("symbol", "ts"))
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 2.0)]), root, ("symbol", "ts"))
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def restorer():
        try:
            barrier.wait(timeout=60)
            V.restore_version(spark, root, 1)
        except BaseException as e:  # noqa: BLE001 - surfaced via assert
            errors.append(e)

    def writer():
        try:
            barrier.wait(timeout=60)
            V.versioned_merge_upsert(
                spark,
                _mk(spark, [("AAPL", 1, 9.0)]),
                root,
                ("symbol", "ts"),
                max_commit_retries=10,
            )
        except BaseException as e:  # noqa: BLE001 - surfaced via assert
            errors.append(e)

    threads = [threading.Thread(target=restorer), threading.Thread(target=writer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    # both ops committed: v3 and v4 (no lost update, no clobber)
    assert V.current_version(spark, root) == 4
    head = _rows(V.read_versioned(spark, root))
    # serialization order decides the head: restore-last -> snapshot of
    # v1; writer-last -> the merge applied on top of the restored head
    assert head in ([("AAPL", 1, 1.0)], [("AAPL", 1, 9.0)]), head
    # every intervening version stays readable
    for v in (1, 2, 3, 4):
        assert _rows(V.read_versioned(spark, root, version=v))


def test_stat_filter_accepts_date_bounds(spark, root):
    """Zone-map stats JSON round-trip as ISO strings; a caller passing
    datetime.date bounds must get correct pruning, not a str-vs-date
    TypeError (advisor r9)."""
    import datetime

    df = spark.createDataFrame(
        [("AAPL", 1, 1.0, datetime.date(2024, 1, 5)),
         ("MSFT", 1, 2.0, datetime.date(2024, 6, 5))],
        "symbol string, ts int, px double, d date",
    )
    V.versioned_merge_upsert(spark, df, root, ("symbol", "ts"), stats_cols=("d",))
    kept, skipped = V.plan_snapshot_files(
        spark, root,
        stat_filter={"d": (datetime.date(2024, 1, 1), datetime.date(2024, 1, 31))},
    )
    assert skipped, "June file must be pruned by a January date filter"
    rows = V.read_versioned(
        spark, root,
        stat_filter={"d": (datetime.date(2024, 1, 1), datetime.date(2024, 1, 31))},
    ).filter("d <= DATE'2024-01-31'").collect()
    assert [r["symbol"] for r in rows] == ["AAPL"]
    # a genuinely mismatched bound type raises a DESCRIPTIVE error
    with pytest.raises(TypeError, match="stat_filter bound"):
        V.plan_snapshot_files(spark, root, stat_filter={"d": (1, 31)})


def test_merge_new_partition_missing_tracked_stats_col_commits(spark, root):
    """A batch introducing a brand-new partition WITHOUT a historically
    tracked stats column must still commit (stats simply un-harvested
    for the new files) instead of failing after the data write and
    orphaning the version dir (advisor r9)."""
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 1.0)]), root, ("symbol", "ts"),
        stats_cols=("px",),
    )
    slim = spark.createDataFrame([("NVDA", 1)], "symbol string, ts int")
    v2 = V.versioned_merge_upsert(spark, slim, root, ("symbol", "ts"))
    assert v2 == 2
    doc = V._read_manifest_doc(spark, root, 2)
    # tracking continues for the table...
    assert doc["stats_cols"] == ["px"]
    # ...the AAPL file keeps its carried px stats, the NVDA file has none
    assert any("symbol=AAPL" in f and s.get("px") for f, s in doc["file_stats"].items())
    assert not any("symbol=NVDA" in f and s.get("px") for f, s in doc["file_stats"].items())
    # the table stays readable end-to-end; fsck finds no orphans
    got = sorted(r["symbol"] for r in V.read_versioned(spark, root).collect())
    assert got == ["AAPL", "NVDA"]
    orphans = V.versioned_orphans(spark, root)
    assert not orphans["orphan_version_dirs"], orphans


def test_can_hardlink_probe_true_on_local_fs(spark, tmp_path):
    """The CAS degrade path is gated on a capability probe (advisor r9:
    a transient FileSystemException must not silently downgrade to the
    clobber-prone rename); on a linking filesystem the probe says so."""
    jvm = spark.sparkContext._jvm
    nio_dir = jvm.java.io.File(str(tmp_path)).toPath()
    assert V._can_hardlink(jvm, nio_dir) is True
    # probe files are cleaned up
    leftovers = [p for p in tmp_path.iterdir() if p.name.startswith(".linkprobe_")]
    assert leftovers == []


# --------------------------------------------------------------------------
# Branches (round 10): zero-copy fork, isolation, merge-back, conflicts
# --------------------------------------------------------------------------


def test_branch_fork_is_zero_copy_and_isolated(spark, root):
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0)]), root, ("symbol", "ts")
    )
    fork = V.create_branch(spark, root, "dev")
    assert fork == 1
    broot = V._branch_root(root, "dev")
    # zero-copy: the branch's fork manifest points INTO main's pool —
    # no data dir exists under the branch yet
    assert not V._exists(spark, posixpath.join(broot, "versions"))
    assert _rows(V.read_versioned(spark, broot)) == _rows(V.read_versioned(spark, root))
    # writes on the branch are invisible on main, and vice versa
    V.versioned_merge_upsert(spark, _mk(spark, [("MSFT", 2, 21.0)]), broot, ("symbol", "ts"))
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 2, 11.0)]), root, ("symbol", "ts"))
    assert ("MSFT", 2, 21.0) not in _rows(V.read_versioned(spark, root))
    assert ("AAPL", 2, 11.0) not in _rows(V.read_versioned(spark, broot))
    # branch numbering continues from the fork (DV-horizon invariant)
    assert V.current_version(spark, broot) == fork + 1
    assert V.list_branches(spark, root) == {"dev": fork + 1}


def test_branch_merge_overlays_changed_partitions_only(spark, root):
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0)]), root, ("symbol", "ts")
    )
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    V.versioned_merge_upsert(
        spark, _mk(spark, [("MSFT", 1, 99.0), ("NVDA", 1, 30.0)]), broot, ("symbol", "ts")
    )
    # concurrent main-side write to an UNRELATED partition merges cleanly
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 2, 11.0)]), root, ("symbol", "ts"))
    new_ver = V.merge_branch(spark, root, "dev")
    # merge commits above both heads (numbers may gap)
    assert new_ver == max(2, 2) + 1
    assert _rows(V.read_versioned(spark, root)) == [
        ("AAPL", 1, 10.0),
        ("AAPL", 2, 11.0),
        ("MSFT", 1, 99.0),
        ("NVDA", 1, 30.0),
    ]
    # terminal: branch and its fork pin are gone
    assert V.list_branches(spark, root) == {}
    assert "_branch_fork_dev" not in V.list_refs(spark, root)
    # merged-in dirs live in MAIN's pool now (relative pointers)
    m = V.read_manifest(spark, root, new_ver)
    assert all(not v.startswith("/") for v in m.values())
    # fsck: nothing merged is an orphan
    orph = V.versioned_orphans(spark, root, keep_last=10)
    assert orph["orphan_version_dirs"] == []


def test_branch_merge_conflict_on_partition(spark, root):
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 2, 11.0)]), broot, ("symbol", "ts"))
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 3, 12.0)]), root, ("symbol", "ts"))
    with pytest.raises(V.BranchConflictError, match="both changed"):
        V.merge_branch(spark, root, "dev")
    # the failed merge moved nothing and main is intact
    assert _rows(V.read_versioned(spark, root)) == [("AAPL", 1, 10.0), ("AAPL", 3, 12.0)]
    V.delete_branch(spark, root, "dev")


def test_branch_merge_conflict_on_main_dv_change(spark, root):
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0)]), root, ("symbol", "ts")
    )
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    V.versioned_merge_upsert(spark, _mk(spark, [("NVDA", 1, 30.0)]), broot, ("symbol", "ts"))
    # main-side DELETE since the fork: partition scope of the tombstone
    # is unknowable from metadata -> strict conflict
    V.versioned_delete(spark, _mk(spark, [("AAPL", 1, 0.0)]).select("symbol", "ts"), root, ("symbol", "ts"))
    with pytest.raises(V.BranchConflictError, match="deletion vectors"):
        V.merge_branch(spark, root, "dev")
    V.delete_branch(spark, root, "dev")


def test_branch_dv_merges_back_and_still_tombstones(spark, root):
    """A delete performed ON THE BRANCH must keep tombstoning after the
    merge: the DV dir moves into main's pool with its version intact,
    and the horizon ordering vs fork-era data dirs is preserved."""
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("AAPL", 2, 11.0), ("MSFT", 1, 20.0)]),
        root, ("symbol", "ts"),
    )
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    V.versioned_delete(spark, _mk(spark, [("AAPL", 2, 0.0)]).select("symbol", "ts"), broot, ("symbol", "ts"))
    assert ("AAPL", 2, 11.0) not in _rows(V.read_versioned(spark, broot))
    assert ("AAPL", 2, 11.0) in _rows(V.read_versioned(spark, root))  # isolation
    new_ver = V.merge_branch(spark, root, "dev")
    rows = _rows(V.read_versioned(spark, root, new_ver))
    assert ("AAPL", 2, 11.0) not in rows
    assert ("AAPL", 1, 10.0) in rows and ("MSFT", 1, 20.0) in rows


def test_branch_survives_main_vacuum_via_fork_pin(spark, root):
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    # main advances enough that the fork would fall out of retention
    for t in range(2, 6):
        V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", t, float(t))]), root, ("symbol", "ts"))
    V.vacuum_versions(spark, root, keep_last=1, grace_seconds=0)
    # the fork tag pinned the fork manifest + its data: branch still reads
    assert _rows(V.read_versioned(spark, broot)) == [("AAPL", 1, 10.0)]
    V.delete_branch(spark, root, "dev")
    # after branch deletion the pin is gone; a second vacuum may reclaim
    V.vacuum_versions(spark, root, keep_last=1, grace_seconds=0)
    assert "_branch_fork_dev" not in V.list_refs(spark, root)


def test_version_numbers_gap_after_merge_and_tools_tolerate(spark, root):
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    for t in range(2, 6):  # branch head races ahead of main
        V.versioned_merge_upsert(spark, _mk(spark, [("NVDA", t, float(t))]), broot, ("symbol", "ts"))
    new_ver = V.merge_branch(spark, root, "dev")
    assert new_ver == 6  # max(main=1, branch=5) + 1 -> versions 2..5 never exist on main
    # history skips holes, orphan audit keys off existing manifests,
    # vacuum retains by existing-version window, CDF diffs two snapshots
    hist = V.versioned_history(spark, root).collect()
    assert [r["version"] for r in hist] == [1, 6]
    assert V.versioned_orphans(spark, root, keep_last=2)["expired_manifests"] == []
    changes = V.read_changes(spark, root, 1, 6, ("symbol", "ts"))
    assert changes.filter("_change_type = 'insert'").count() == 4
    V.vacuum_versions(spark, root, keep_last=1, grace_seconds=0)
    assert _rows(V.read_versioned(spark, root))[-1] == ("NVDA", 5, 5.0)


def test_branch_create_is_exclusive(spark, root):
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    V.create_branch(spark, root, "dev")
    with pytest.raises(FileExistsError):
        V.create_branch(spark, root, "dev")
    V.delete_branch(spark, root, "dev")
    # deletable and recreatable
    assert V.create_branch(spark, root, "dev") == 1


def test_merge_branch_races_concurrent_main_writer(spark, root):
    """merge_branch racing a main writer on an UNRELATED partition:
    whichever loses the manifest CAS retries on the winner's snapshot
    (merge re-checks conflicts against the new head), and the final
    state contains BOTH the branch overlay and the concurrent write —
    never a lost update."""
    import threading

    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0)]), root, ("symbol", "ts")
    )
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    V.versioned_merge_upsert(spark, _mk(spark, [("MSFT", 1, 99.0)]), broot, ("symbol", "ts"))

    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def merger():
        try:
            barrier.wait(timeout=60)
            V.merge_branch(spark, root, "dev", max_commit_retries=10)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def writer():
        try:
            barrier.wait(timeout=60)
            V.versioned_merge_upsert(
                spark, _mk(spark, [("NVDA", 1, 30.0)]), root, ("symbol", "ts"),
                max_commit_retries=10,
            )
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=merger), threading.Thread(target=writer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    rows = _rows(V.read_versioned(spark, root))
    assert ("MSFT", 1, 99.0) in rows  # the branch overlay landed
    assert ("NVDA", 1, 30.0) in rows  # the concurrent write landed
    assert ("AAPL", 1, 10.0) in rows
    assert V.list_branches(spark, root) == {}


def test_merge_branch_rerun_after_interrupted_move_completes(spark, root):
    """Crash semantics the docstring promises: if a merge crashes AFTER
    moving some branch dirs into main's pool but BEFORE publishing the
    manifest, main is untouched and RE-RUNNING the merge completes (the
    moves are idempotent — already-moved dirs short-circuit)."""
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0)]), root, ("symbol", "ts")
    )
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    V.versioned_merge_upsert(
        spark, _mk(spark, [("MSFT", 1, 99.0), ("NVDA", 1, 30.0)]), broot, ("symbol", "ts")
    )
    # Simulate the partial crash: manually move ONE branch-written dir
    # into main's pool, exactly as an interrupted merge would leave it.
    bdoc = V._read_manifest_doc(spark, broot, V.current_version(spark, broot))
    branch_dirs = sorted(
        {v for v in bdoc["partitions"].values() if not v.startswith("/")}
    )
    assert branch_dirs, "branch must own at least one written dir"
    moved_name = branch_dirs[0].rsplit("/", 1)[-1]
    assert V._move_dir(
        spark,
        posixpath.join(broot, "versions", moved_name),
        posixpath.join(root, "versions", moved_name),
    )
    head_before = V.current_version(spark, root)
    # Re-run: must complete despite the pre-moved dir.
    new_ver = V.merge_branch(spark, root, "dev")
    assert new_ver > head_before
    rows = _rows(V.read_versioned(spark, root))
    assert ("MSFT", 1, 99.0) in rows and ("NVDA", 1, 30.0) in rows
    assert V.versioned_orphans(spark, root, keep_last=10)["orphan_version_dirs"] == []


# --------------------------------------------------------------------------
# round 11: advisor fixes + branch-scoped maintenance
# --------------------------------------------------------------------------


def test_merge_refuses_branch_dv_when_main_advanced(spark, root):
    """Advisor r10 (medium): branch and main number commits independently
    from the fork, so a branch-created DV's horizon is arbitrary against
    main's concurrent commits — merge must refuse, mirroring the
    main-side DV rule, not let commit-count interleaving decide whether
    main's post-fork rows get tombstoned."""
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0)]), root, ("symbol", "ts")
    )
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    V.versioned_delete(
        spark, _mk(spark, [("AAPL", 1, 0.0)]).select("symbol", "ts"), broot, ("symbol", "ts")
    )
    # main advances on an UNRELATED partition after the fork
    V.versioned_merge_upsert(spark, _mk(spark, [("NVDA", 1, 30.0)]), root, ("symbol", "ts"))
    with pytest.raises(V.BranchConflictError, match="branch .* created deletion vectors"):
        V.merge_branch(spark, root, "dev")
    # with main unchanged since the fork the same branch DV merges fine
    V.delete_branch(spark, root, "dev")
    V.create_branch(spark, root, "dev2")
    b2 = V._branch_root(root, "dev2")
    V.versioned_delete(
        spark, _mk(spark, [("AAPL", 1, 0.0)]).select("symbol", "ts"), b2, ("symbol", "ts")
    )
    V.merge_branch(spark, root, "dev2")
    rows = _rows(V.read_versioned(spark, root))
    assert ("AAPL", 1, 10.0) not in rows
    assert ("NVDA", 1, 30.0) in rows


def test_merge_refuses_resurrecting_partition_main_removed(spark, root):
    """Advisor r10 (low): a partition main REMOVED since the fork (via
    restore to a pre-fork snapshot) must conflict with a branch change
    to it — not be silently resurrected by last-write-wins."""
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    V.versioned_merge_upsert(spark, _mk(spark, [("MSFT", 1, 20.0)]), root, ("symbol", "ts"))
    V.create_branch(spark, root, "dev")  # fork = v2: {AAPL, MSFT}
    broot = V._branch_root(root, "dev")
    V.versioned_merge_upsert(spark, _mk(spark, [("MSFT", 2, 21.0)]), broot, ("symbol", "ts"))
    # main rolls back to v1 — partition symbol=MSFT no longer exists on main
    V.restore_version(spark, root, 1)
    with pytest.raises(V.BranchConflictError, match="both changed partitions"):
        V.merge_branch(spark, root, "dev")


def test_merge_refreshes_moved_dir_mtime(spark, root):
    """Advisor r10 (medium): fs.rename preserves mtime, so a dir moved
    into main's pool by an interrupted merge sits OUTSIDE vacuum's
    grace window. A merge (re-)run must stamp moved dirs to NOW so the
    window covers the in-flight publish."""
    import os
    import time

    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    V.versioned_merge_upsert(spark, _mk(spark, [("NVDA", 1, 30.0)]), broot, ("symbol", "ts"))
    bdoc = V._read_manifest_doc(spark, broot, V.current_version(spark, broot))
    branch_dirs = sorted({v for v in bdoc["partitions"].values() if not v.startswith("/")})
    moved_name = branch_dirs[0].rsplit("/", 1)[-1]
    src = posixpath.join(broot, "versions", moved_name)
    dst = posixpath.join(root, "versions", moved_name)
    assert V._move_dir(spark, src, dst)
    os.utime(dst, (1_000_000, 1_000_000))  # stale, far outside any grace window
    before = time.time()
    V.merge_branch(spark, root, "dev")
    assert os.path.getmtime(dst) >= before - 5, (
        "merge re-run must refresh the pre-moved dir's mtime"
    )


def test_merge_raises_when_moved_dir_vanishes_before_publish(spark, root, monkeypatch):
    """Backstop to the mtime refresh: if a moved dir disappears between
    the move and the CAS publish (a vacuum that slipped through), the
    merge must raise loudly, never publish a manifest referencing
    deleted data."""
    import shutil

    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    V.versioned_merge_upsert(spark, _mk(spark, [("NVDA", 1, 30.0)]), broot, ("symbol", "ts"))

    real_prune = V._prune_carried_stats

    # _prune_carried_stats runs after the moves and before the
    # pre-publish existence check — delete the moved dir there
    def sabotage2(cand, parts):
        out = real_prune(cand, parts)
        d = parts.get("symbol=NVDA")
        if d and not d.startswith("/"):
            shutil.rmtree(posixpath.join(root, d), ignore_errors=True)
        return out

    monkeypatch.setattr(V, "_prune_carried_stats", sabotage2)
    with pytest.raises(RuntimeError, match="vanished before publish"):
        V.merge_branch(spark, root, "dev")


def test_branch_scoped_vacuum_and_fsck(spark, root):
    """Branch trees are full versioned tables: vacuum + orphan fsck run
    branch-scoped, reclaiming the branch's own expired history without
    touching fork-era data (absolute pointers into main's pool are never
    reclaim candidates) or main itself."""
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 1, 10.0)]), root, ("symbol", "ts"))
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    for t in range(1, 5):
        V.versioned_merge_upsert(spark, _mk(spark, [("NVDA", t, float(t))]), broot, ("symbol", "ts"))
    main_manifests_before = sorted(V._list_names(spark, posixpath.join(root, "_manifests")))
    audit = V.versioned_orphans(spark, broot, keep_last=1)
    assert audit["expired_manifests"], "branch history should have expired manifests"
    deleted = V.vacuum_versions(spark, broot, keep_last=1, grace_seconds=0)
    assert deleted > 0
    # branch still reads, fork-era data intact, main untouched
    assert ("AAPL", 1, 10.0) in _rows(V.read_versioned(spark, broot))
    assert ("NVDA", 4, 4.0) in _rows(V.read_versioned(spark, broot))
    assert _rows(V.read_versioned(spark, root)) == [("AAPL", 1, 10.0)]
    assert sorted(V._list_names(spark, posixpath.join(root, "_manifests"))) == main_manifests_before
    after = V.versioned_orphans(spark, broot, keep_last=1)
    assert after["expired_manifests"] == [] and after["orphan_version_dirs"] == []
    # and the merge still completes after branch-scoped maintenance
    V.merge_branch(spark, root, "dev")
    assert ("NVDA", 4, 4.0) in _rows(V.read_versioned(spark, root))


def test_branch_write_vs_main_vacuum_race(spark, root):
    """VERDICT r10 item 6: a branch writer racing main's vacuum — the
    fork pin protects fork-era data, branch-written dirs live under the
    branch tree main's vacuum never lists, and the default grace window
    covers everything in flight. No errors, nothing lost."""
    import threading

    for t in range(1, 4):
        V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", t, float(t))]), root, ("symbol", "ts"))
    V.create_branch(spark, root, "dev")
    broot = V._branch_root(root, "dev")
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def writer():
        try:
            barrier.wait(timeout=60)
            for t in range(1, 4):
                V.versioned_merge_upsert(
                    spark, _mk(spark, [("NVDA", t, float(t))]), broot, ("symbol", "ts")
                )
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def vacuumer():
        try:
            barrier.wait(timeout=60)
            for _ in range(3):
                V.vacuum_versions(spark, root, keep_last=1, grace_seconds=3600)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer), threading.Thread(target=vacuumer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    rows = _rows(V.read_versioned(spark, broot))
    assert ("AAPL", 3, 3.0) in rows and ("NVDA", 3, 3.0) in rows
    assert "_branch_fork_dev" in V.list_refs(spark, root)


def test_describe_branches_metadata(spark, root):
    V.versioned_merge_upsert(
        spark, _mk(spark, [("AAPL", 1, 10.0), ("MSFT", 1, 20.0)]), root, ("symbol", "ts")
    )
    V.create_branch(spark, root, "fix")
    broot = V._branch_root(root, "fix")
    V.versioned_merge_upsert(spark, _mk(spark, [("AAPL", 2, 11.0)]), broot, ("symbol", "ts"))
    V.versioned_delete(
        spark, _mk(spark, [("MSFT", 1, 0.0)]).select("symbol", "ts"), broot, ("symbol", "ts")
    )
    V.create_branch(spark, root, "idle")
    rows = {r["branch"]: r for r in V.describe_branches(spark, root).collect()}
    fix, idle = rows["fix"], rows["idle"]
    assert fix["fork_version"] == 1 and fix["head_version"] == 3
    assert fix["n_commits"] == 2
    assert fix["n_changed_partitions"] == 1  # symbol=AAPL repointed; MSFT delete is a DV
    assert fix["n_branch_deletion_vectors"] == 1
    assert fix["fork_pin_present"] is True
    assert idle["fork_version"] == 1 and idle["head_version"] == 1
    assert idle["n_commits"] == 0 and idle["n_changed_partitions"] == 0
    assert idle["fork_pin_present"] is True


def _evolve_rename_then_add(spark, root):
    V.rename_column(spark, root, "val", "price")
    V.add_column(spark, root, "note", "STRING")
    return sorted(V.read_versioned(spark, root).columns), ["band", "k", "note", "price"]


def _evolve_drop_then_branch(spark, root):
    V.drop_column(spark, root, "val")
    V.create_branch(spark, root, "dev")
    cols = V.read_versioned(spark, V._branch_root(root, "dev")).columns
    return sorted(cols), ["band", "k"]


def _evolve_rename_then_clone(spark, root):
    V.rename_column(spark, root, "val", "price")
    V.shallow_clone(spark, root, root + "_clone")
    return sorted(V.read_versioned(spark, root + "_clone").columns), ["band", "k", "price"]


def _bloom_cols_after(alter):
    def case(spark, root):
        alter(spark, root)
        head = V._read_manifest_doc(spark, root, V.current_version(spark, root))
        return head.get("bloom_cols"), ["k"]

    return case


@pytest.mark.parametrize(
    "case",
    [
        _evolve_rename_then_add,
        _evolve_drop_then_branch,
        _evolve_rename_then_clone,
        _bloom_cols_after(lambda s, r: V.add_column(s, r, "note", "STRING")),
        _bloom_cols_after(lambda s, r: V.drop_column(s, r, "val")),
        _bloom_cols_after(lambda s, r: V.rename_column(s, r, "val", "price")),
    ],
    ids=[
        "rename_then_add_column",
        "drop_then_create_branch",
        "rename_then_shallow_clone",
        "bloom_then_add_column",
        "bloom_then_drop_column",
        "bloom_then_rename_column",
    ],
)
def test_commits_carry_table_metadata_forward(spark, root, case):
    """Every commit type carries the table metadata it does not change:
    schema evolution, bloom columns. A metadata-only commit, a branch or
    a clone that drops one resurfaces a dropped or renamed column or
    loses the bloom index."""
    df = spark.createDataFrame(
        [(i, i % 2, i * 10) for i in range(4)], "k long, band long, val long"
    )
    V.versioned_merge_upsert(
        spark, df, root, key_cols=("k",), partition_cols=("band",), bloom_cols=("k",)
    )
    got, want = case(spark, root)
    assert got == want
