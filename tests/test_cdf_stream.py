"""Streaming change-data-feed SOURCE (etl/cdf_stream.py): readStream
over the versioned table's commit log, with BATCH EQUIVALENCE as the
oracle — for every commit v, the stream's rows at _commit_version == v
must equal `read_changes(v-1, v)` exactly."""

from __future__ import annotations

import datetime
import shutil
import sys
import tempfile
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from us_stock_data_pipeline_spark.etl import versioned as V
from us_stock_data_pipeline_spark.etl.cdf_stream import register_cdf_source

DDL = "k long, band long, val long"


def _mk_table(spark, root):
    df = spark.createDataFrame(
        [(i, i % 2, i * 10) for i in range(8)], DDL
    )
    V.versioned_merge_upsert(spark, df, root, key_cols=("k",), partition_cols=("band",))
    # v2: rewrite band 0 (updates k=0,2,4,6) + insert a new key 100
    upd = spark.createDataFrame(
        [(0, 0, 1), (2, 0, 21), (100, 0, 900)], DDL
    ).union(spark.createDataFrame([(4, 0, 40), (6, 0, 60)], DDL))
    V.versioned_merge_upsert(spark, upd, root, key_cols=("k",), partition_cols=("band",))
    # v3: new partition band=7 (pure inserts)
    ins = spark.createDataFrame([(200, 7, 5), (201, 7, 6)], DDL)
    V.versioned_merge_upsert(spark, ins, root, key_cols=("k",), partition_cols=("band",))
    # v4: deletion-vector delete of two keys
    V.versioned_delete(
        spark, spark.createDataFrame([(1,), (200,)], "k long"), root, key_cols=("k",)
    )


def _run_stream(spark, root, starting=0, ddl=DDL):
    register_cdf_source(spark)
    sdf = (
        spark.readStream.format("versioned_cdf")
        .option("path", root)
        .option("keycols", "k")
        .option("tableschema", ddl)
        .option("startingversion", str(starting))
        .load()
    )
    name = f"cdf_sink_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


@pytest.fixture(scope="module")
def cdf(spark):
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdf_{uuid.uuid4().hex[:8]}_")
    _mk_table(spark, root)
    out = _run_stream(spark, root).cache()
    out.count()
    yield root, out
    out.unpersist()
    shutil.rmtree(root, ignore_errors=True)


def _norm(df):
    return sorted(
        tuple(r) for r in df.select("k", "band", "val", "_change_type").collect()
    )


def test_batch_equivalence_per_commit(spark, cdf):
    root, out = cdf
    for v in (2, 3, 4):
        batch = V.read_changes(spark, root, v - 1, v, key_cols=("k",))
        stream_v = out.filter(F.col("_commit_version") == v)
        assert _norm(stream_v) == _norm(batch), f"commit {v} diverges"


def test_change_types_and_counts(spark, cdf):
    _, out = cdf
    counts = {
        (r._commit_version, r._change_type): r.n
        for r in out.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # v2: k=0 updated (10->1), k=2 (20->21); k=4,6 rewritten UNCHANGED
    # (no change row); k=100 inserted
    assert counts[(2, "update_postimage")] == 2
    assert counts[(2, "insert")] == 1
    # v3: two inserts in the brand-new partition
    assert counts[(3, "insert")] == 2
    # v4: DV delete of k=1 and k=200
    assert counts[(4, "delete")] == 2
    # v1 (startingversion=0): the initial snapshot streams as inserts
    assert counts[(1, "insert")] == 8
    assert set(counts) == {
        (1, "insert"),
        (2, "update_postimage"),
        (2, "insert"),
        (3, "insert"),
        (4, "delete"),
    }


def test_starting_version_skips_earlier_commits(spark, cdf):
    root, _ = cdf
    out = _run_stream(spark, root, starting=2)
    vs = {r._commit_version for r in out.select("_commit_version").collect()}
    assert vs == {3, 4}


def test_initial_batch_streams_v1_as_inserts(spark, cdf):
    root, _ = cdf
    out = _run_stream(spark, root, starting=0)
    v1 = out.filter(F.col("_commit_version") == 1)
    assert v1.count() == 8
    assert {r._change_type for r in v1.collect()} == {"insert"}


def test_max_versions_per_trigger_paces_microbatches(spark):
    """maxversionspertrigger=1 must split the backlog into one
    microbatch per commit (Delta's maxFilesPerTrigger analog), with
    identical total output."""
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfpace_{uuid.uuid4().hex[:8]}_")
    try:
        _mk_table(spark, root)
        register_cdf_source(spark)
        sdf = (
            spark.readStream.format("versioned_cdf")
            .option("path", root)
            .option("keycols", "k")
            .option("tableschema", DDL)
            .option("startingversion", "1")
            .option("maxversionspertrigger", "1")
            .load()
        )
        name = f"cdf_paced_{uuid.uuid4().hex[:8]}"
        batches = []
        q = (
            sdf.writeStream.foreachBatch(
                lambda df, eid: batches.append(
                    {r._commit_version for r in df.select("_commit_version").collect()}
                )
            )
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = 120
            import time as _t

            t0 = _t.time()
            while _t.time() - t0 < deadline:
                if sum(len(b) for b in batches if b) >= 3:
                    break
                _t.sleep(1)
        finally:
            q.stop()
        nonempty = [b for b in batches if b]
        assert all(len(b) == 1 for b in nonempty), nonempty
        assert set().union(*nonempty) == {2, 3, 4}
        # versions arrive in order
        flat = [next(iter(b)) for b in nonempty]
        assert flat == sorted(flat)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# round 13: compaction / restore / DV-gating / key-order robustness
# --------------------------------------------------------------------------


def test_stream_across_optimize_emits_no_phantom_changes(spark):
    """OPTIMIZE rewrites every partition data-identically (materializing
    DVs); the stream must emit ZERO rows for that commit (VERDICT r12
    #6) — the pre-image DV filter makes old-minus-DV equal new."""
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfopt_{uuid.uuid4().hex[:8]}_")
    try:
        _mk_table(spark, root)  # v1..v4 (v4 = DV delete of k=1, k=200)
        v_opt = V.compact_table(spark, root)  # v5: rewrite, clear DVs
        out = _run_stream(spark, root, starting=4)
        assert out.filter(F.col("_commit_version") == v_opt).count() == 0
        # batch oracle agrees: the compaction is change-free
        batch = V.read_changes(spark, root, 4, v_opt, key_cols=("k",))
        assert batch.count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_across_restore_matches_read_changes(spark):
    """RESTORE to a pre-delete snapshot drops a deletion vector without
    rewriting its partitions: the keys it deleted reappear, and the
    stream emits them as inserts, exactly as the batch diff does."""
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfrst_{uuid.uuid4().hex[:8]}_")
    try:
        _mk_table(spark, root)  # v4 = DV delete of k=1, k=200
        v_rst = V.restore_version(spark, root, 3)  # v5: DV dropped, dirs unchanged
        out = _run_stream(spark, root, starting=4)
        stream_v = out.filter(F.col("_commit_version") == v_rst)
        batch = V.read_changes(spark, root, 4, v_rst, key_cols=("k",))
        assert _norm(stream_v) == _norm(batch)
        assert _norm(stream_v) == [(1, 1, 10, "insert"), (200, 7, 5, "insert")]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_repeated_dv_delete_not_reemitted(spark):
    """Deleting an ALREADY-DELETED key again must not re-emit a delete
    event: the pre-image is filtered through prior DVs (advisor r12
    low), matching the batch diff exactly."""
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfdv_{uuid.uuid4().hex[:8]}_")
    try:
        _mk_table(spark, root)  # v4 deletes k=1, k=200
        # v5 deletes k=1 AGAIN plus fresh k=3
        V.versioned_delete(
            spark, spark.createDataFrame([(1,), (3,)], "k long"), root, key_cols=("k",)
        )
        out = _run_stream(spark, root, starting=4)
        v5 = out.filter(F.col("_commit_version") == 5)
        assert sorted(r.k for r in v5.collect()) == [3]
        batch = V.read_changes(spark, root, 4, 5, key_cols=("k",))
        assert _norm(v5) == _norm(batch)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_merge_branch_commit_repoint_plus_dv(spark):
    """A merge_branch commit both repoints partitions AND adds DVs; the
    stream must not fan DV tasks over the repointed partitions (double
    emission) and must equal the batch diff (advisor r12 low)."""
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfmb_{uuid.uuid4().hex[:8]}_")
    try:
        _mk_table(spark, root)  # v1..v4 on main
        pre = V.current_version(spark, root)
        V.create_branch(spark, root, "wip")
        broot = V._branch_root(root, "wip")
        # branch: update k=0 (band 0) and DV-delete k=5 (band 1)
        upd = spark.createDataFrame([(0, 0, 777)], DDL)
        V.versioned_merge_upsert(
            spark, upd, broot, key_cols=("k",), partition_cols=("band",)
        )
        V.versioned_delete(
            spark, spark.createDataFrame([(5,)], "k long"), broot, key_cols=("k",)
        )
        mv = V.merge_branch(spark, root, "wip")
        out = _run_stream(spark, root, starting=pre)
        stream_m = out.filter(F.col("_commit_version") == mv)
        batch = V.read_changes(spark, root, pre, mv, key_cols=("k",))
        assert _norm(stream_m) == _norm(batch)
        got = {(r.k, r._change_type) for r in stream_m.collect()}
        assert (0, "update_postimage") in got
        assert (5, "delete") in got
        assert len(got) == 2  # no duplicates / spurious events
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_multikey_keycols_order_differs_from_ddl(spark):
    """keycols given in a DIFFERENT order than the table DDL: emitted
    key values must still land under the right columns (advisor r12
    low — schema() orders keys by DDL position)."""
    ddl2 = "a long, b long, val long"
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfmk_{uuid.uuid4().hex[:8]}_")
    try:
        df = spark.createDataFrame([(1, 10, 5), (2, 20, 6)], ddl2)
        V.versioned_merge_upsert(
            spark, df, root, key_cols=("a", "b"), partition_cols=()
        )
        register_cdf_source(spark)
        sdf = (
            spark.readStream.format("versioned_cdf")
            .option("path", root)
            .option("keycols", "b,a")  # REVERSED vs DDL order
            .option("tableschema", ddl2)
            .option("startingversion", "0")
            .load()
        )
        name = f"cdf_mk_{uuid.uuid4().hex[:8]}"
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {(r.a, r.b, r.val) for r in spark.table(name).collect()}
        assert rows == {(1, 10, 5), (2, 20, 6)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_from_branch_root(spark):
    """The CDF source works against a BRANCH root unchanged: branch
    manifests resolve fork-inherited dirs (absolute, into main's tree)
    and branch-written dirs (relative) alike, and the feed sees only
    the branch's own commits after the fork."""
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfbr_{uuid.uuid4().hex[:8]}_")
    try:
        _mk_table(spark, root)  # main: v1..v4
        V.create_branch(spark, root, "wip")
        broot = V._branch_root(root, "wip")
        fork = V.current_version(spark, broot)
        # branch commit: update k=0 in band 0
        V.versioned_merge_upsert(
            spark,
            spark.createDataFrame([(0, 0, 777)], DDL),
            broot,
            key_cols=("k",),
            partition_cols=("band",),
        )
        out = _run_stream(spark, broot, starting=fork)
        rows = [(r.k, r._change_type, r.val) for r in out.collect()]
        assert rows == [(0, "update_postimage", 777)]
        batch = V.read_changes(spark, broot, fork, fork + 1, key_cols=("k",))
        assert _norm(out) == _norm(batch)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_changes_across_schema_evolution_commits(spark):
    """ALTER TABLE ADD/RENAME/DROP COLUMN are metadata-only commits:
    both the batch CDF (read_changes) and the stream must emit ZERO
    rows for them — the diff only compares columns common to both
    snapshots, so a schema commit can never masquerade as row churn."""
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfevo_{uuid.uuid4().hex[:8]}_")
    try:
        _mk_table(spark, root)  # v1..v4
        v_add = V.add_column(spark, root, "note", "STRING")
        v_ren = V.rename_column(spark, root, "val", "amount")
        v_drop = V.drop_column(spark, root, "note")
        for lo, hi in [(4, v_add), (v_add, v_ren), (v_ren, v_drop)]:
            assert (
                V.read_changes(spark, root, lo, hi, key_cols=("k",)).count()
                == 0
            ), (lo, hi)
        out = _run_stream(spark, root, starting=4)
        assert (
            out.filter(F.col("_commit_version").isin(v_add, v_ren, v_drop)).count()
            == 0
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_timestamp_key_matches_read_changes(spark):
    """A (symbol, ts)-keyed bars table with a `timestamp` key streams
    the same rows as the batch change feed for each commit."""
    ddl = "symbol string, ts timestamp, close double"
    keys = ("symbol", "ts")
    t = [datetime.datetime(2024, 3, 4, 14, 30 + i) for i in range(3)]
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfts_{uuid.uuid4().hex[:8]}_")
    try:
        for rows in (
            [("AAPL", t[0], 10.0), ("AAPL", t[1], 11.0), ("MSFT", t[0], 20.0)],
            [("AAPL", t[1], 11.5), ("AAPL", t[2], 12.0)],
            [("MSFT", t[0], 20.5), ("MSFT", t[1], 21.0)],
        ):
            V.versioned_merge_upsert(
                spark, spark.createDataFrame(rows, ddl), root, key_cols=keys
            )
        register_cdf_source(spark)
        sdf = (
            spark.readStream.format("versioned_cdf")
            .option("path", root)
            .option("keycols", ",".join(keys))
            .option("tableschema", ddl)
            .option("startingversion", "1")
            .load()
        )
        name = f"cdf_ts_{uuid.uuid4().hex[:8]}"
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()
        out = spark.table(name)

        def norm(df):
            return sorted(tuple(r) for r in df.select(*keys, "close", "_change_type").collect())

        for v in (2, 3):
            batch = V.read_changes(spark, root, v - 1, v, key_cols=keys)
            assert norm(out.filter(F.col("_commit_version") == v)) == norm(batch), v
        assert out.count() == 4
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _upsert(spark, root, rows, ddl):
    V.versioned_merge_upsert(
        spark,
        spark.createDataFrame(rows, ddl),
        root,
        key_cols=("k",),
        partition_cols=("band",),
    )


def test_stream_decimal_value_column_matches_read_changes(spark):
    """A `decimal(p,s)` value column: the comma inside the type must not
    split the table schema, and every commit streams the batch diff."""
    ddl = "k long, band long, px decimal(10,2)"
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfdec_{uuid.uuid4().hex[:8]}_")
    d = Decimal
    try:
        _upsert(spark, root, [(1, 0, d("1.10")), (2, 0, d("2.20")), (3, 1, d("3.30"))], ddl)
        _upsert(spark, root, [(1, 0, d("1.15")), (4, 1, d("4.40"))], ddl)
        V.versioned_delete(
            spark, spark.createDataFrame([(3,)], "k long"), root, key_cols=("k",)
        )
        out = _run_stream(spark, root, starting=0, ddl=ddl)

        def norm(df):
            return sorted(tuple(r) for r in df.select("k", "band", "px", "_change_type").collect())

        for v in (2, 3):
            batch = V.read_changes(spark, root, v - 1, v, key_cols=("k",))
            assert norm(out.filter(F.col("_commit_version") == v)) == norm(batch), v
        assert norm(out.filter(F.col("_commit_version") == 2)) == [
            (1, 0, d("1.15"), "update_postimage"),
            (4, 1, d("4.40"), "insert"),
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_rewrite_gaining_a_column_reports_update(spark):
    """A partition written before column `x` existed, rewritten with `x`
    set and its other values unchanged, is an update in both the batch
    diff and the stream: the pruned diff still compares every column of
    the full snapshots."""
    ddl = "k long, band long, val long, x long"
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfcol_{uuid.uuid4().hex[:8]}_")
    try:
        _upsert(spark, root, [(0, 0, 10), (1, 1, 11)], DDL)
        _upsert(spark, root, [(1, 1, 11, 7)], ddl)  # v2: band 1 gains x
        _upsert(spark, root, [(0, 0, 10, 5)], ddl)  # v3: band 0 gains x, same val
        batch = V.read_changes(spark, root, 2, 3, key_cols=("k",))
        out = _run_stream(spark, root, starting=2, ddl=ddl)
        for df in (batch, out):
            assert sorted(
                tuple(r) for r in df.select("k", "band", "val", "x", "_change_type").collect()
            ) == [(0, 0, 10, 5, "update_postimage")]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_register_cdf_source_concurrently(spark):
    """Threads that each hold an active session may register the source
    at the same moment (a concurrent bench pool running the CDF
    queries): every call must succeed."""
    errors = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(20):
            session = spark.newSession()
            barrier = threading.Barrier(8, timeout=60)

            def register():
                session._jvm.SparkSession.setActiveSession(session._jsparkSession)
                barrier.wait()
                try:
                    register_cdf_source(session)
                except Exception as e:  # noqa: BLE001 - asserted below
                    errors.append(e)

            with ThreadPoolExecutor(8) as pool:
                for f in [pool.submit(register) for _ in range(8)]:
                    f.result(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert errors == []
