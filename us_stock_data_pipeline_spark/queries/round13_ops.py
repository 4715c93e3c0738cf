"""Round-13 operators.

- `storage_parquet_raw_scan_v2` — the pure-Python parquet page reader
  over DATA PAGE V2 + GZIP files (VERDICT r12 #2): each task re-encodes
  one Spark-written file to pyarrow's `data_page_version='2.0'` with
  512-byte gzip pages in memory, then parses those bytes with
  `functions/parquet_raw.py` — v2 layout (levels uncompressed ahead of
  the values section, per-page is_compressed) exercised distributed.
- `stream_versioned_cdf_compaction` — CDF stream across an OPTIMIZE
  commit (VERDICT r12 #6): a data-identical rewrite emits ZERO change
  rows while surrounding commits stream normally.
- `etl_versioned_sql_merge_clauses` — widened MERGE INTO (VERDICT r12
  #5): UPDATE SET assignment lists, stacked WHEN MATCHED AND clauses,
  INSERT (cols) VALUES (exprs) with NULL fill, one atomic commit.
- `tokenizer_unigram_em2` — a SECOND unigram-LM EM iteration on the
  round-12 pruned vocabulary (VERDICT r12 #8): the SentencePiece loop's
  fixed point is stable under iteration, same state-carrying Viterbi
  machinery, cross-engine-exact fixed-point scores.
- `multimodal_jpeg_progressive_color_decode` — REAL progressive COLOR
  JPEG (VERDICT r12 #4): interleaved DC scan + per-component EOBRUN
  AC scans, retiring the r12 gate (only lossy VP8 remains gated).
- `etl_versioned_sql_merge_by_source` — MERGE with WHEN NOT MATCHED BY
  SOURCE (Delta's third clause type): sync-to-source flag/delete of
  target-only rows via a full-outer join, single atomic commit.
- `etl_versioned_sql_constraints` — Delta CHECK constraints: ALTER
  TABLE ADD/DROP CONSTRAINT, snapshot validation at ADD, pre-commit
  write gating (violations publish nothing).
- `etl_versioned_sql_table_changes` — Delta's `table_changes('t', lo,
  hi)` CDF table-valued form, composable inside arbitrary SQL.
- `corpus_unimax_sampling` — UniMax budget allocation (waterfilling
  with per-group epoch caps), the standard multilingual training
  mixture, closed-form and integer-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_stock_data_pipeline_spark.catalog import load_table
from us_stock_data_pipeline_spark import registry
from us_stock_data_pipeline_spark.registry import register

# --------------------------------------------------------------------------
# storage: page reader on DATA PAGE V2 + GZIP (VERDICT r12 #2)
# --------------------------------------------------------------------------

_PQRAW_V2_ORACLE = """
SELECT CAST(c_nationkey AS BIGINT) AS nk,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c_custkey) AS BIGINT) AS sum_key,
       CAST(count(*) FILTER (WHERE c_custkey % 9 = 0) AS BIGINT) AS n_nulled
FROM customer
GROUP BY 1
ORDER BY 1
"""


@register(
    "storage_parquet_raw_scan_v2",
    oracle=_PQRAW_V2_ORACLE,
    tags=("storage", "multimodal"),
    round=13,
)
def storage_parquet_raw_scan_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-Python parquet page reader on DATA PAGE V2 + GZIP (round 13,
    VERDICT r12 #2 — the r12 reader spoke only what Spark writes: v1 +
    snappy). Stage: Spark's JVM writer lands customer keys as v1/snappy;
    each `binaryFile`->mapInPandas task then re-encodes ITS file to
    pyarrow `data_page_version='2.0'` with gzip 512-byte pages in
    memory and parses the result with `functions/parquet_raw.py`
    (`read_column`): v2 page layout — def levels UNCOMPRESSED and
    un-prefixed ahead of the values section, only the values gzip'd,
    per-page is_compressed honored — plus stdlib-zlib gzip members.
    The tiny page size forces many pages per chunk so page-boundary
    handling is load-bearing, and the per-FILE task split is the shape
    a 100 TB bulk re-encode/validate job would use (no driver-side
    bytes, one task per file)."""
    import glob
    import shutil
    import tempfile
    import uuid as _uuid

    cust = load_table(spark, sf_dir, "customer").selectExpr(
        "CAST(c_custkey AS BIGINT) AS ck",
        "CAST(c_nationkey AS BIGINT) AS nk",
        "CASE WHEN c_custkey % 9 = 0 THEN NULL ELSE CAST(c_custkey AS BIGINT) END"
        " AS ck_nullable",
    )
    stage = tempfile.mkdtemp(prefix=f"us_sdps_pqv2_{_uuid.uuid4().hex[:8]}_")
    try:
        out_dir = f"{stage}/t"
        cust.coalesce(1).write.mode("overwrite").option(
            "compression", "snappy"
        ).parquet(out_dir)
        assert glob.glob(f"{out_dir}/*.parquet")

        def decode(batches):
            import io

            import pandas as pd
            import pyarrow.parquet as pq

            from us_stock_data_pipeline_spark.functions.parquet_raw import (
                read_column,
            )

            for b in batches:
                for _, row in b.iterrows():
                    t = pq.read_table(io.BytesIO(bytes(row["content"])))
                    sink = io.BytesIO()
                    pq.write_table(
                        t,
                        sink,
                        compression="gzip",
                        data_page_version="2.0",
                        data_page_size=512,
                        write_statistics=False,
                    )
                    buf = sink.getvalue()
                    yield pd.DataFrame(
                        {
                            "ck": read_column(buf, "ck"),
                            "nk": read_column(buf, "nk"),
                            "ck_nullable": read_column(buf, "ck_nullable"),
                        }
                    )

        files = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.parquet")
            .load(out_dir)
            .select("content")
        )
        decoded = files.mapInPandas(decode, "ck long, nk long, ck_nullable long")
        agg = (
            decoded.groupBy("nk")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("ck").cast("long").alias("sum_key"),
                F.sum(F.when(F.col("ck_nullable").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_nulled"),
            )
            .orderBy("nk")
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


# --------------------------------------------------------------------------
# streaming CDF across an OPTIMIZE commit (VERDICT r12 #6)
# --------------------------------------------------------------------------

# Lifecycle: v1 base (per-nation counts, band = nk % 5), v2 upserts
# bands 0-1 with val+1, v3 DV-deletes keys {0,1}, v4 = OPTIMIZE
# (compact_table: full data-identical rewrite that materializes the DVs
# and clears them), v5 upserts band 2 with val+5. The stream reads
# (1, v5]; the compaction commit must contribute ZERO rows (its
# pre-image-minus-DV equals its post-image) while v2/v3/v5 stream
# normally — the 'compaction' row pins that count at 0.
_CDF_COMPACT_ORACLE = """
WITH base AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
         CAST(c_nationkey % 5 AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
)
SELECT * FROM (
  SELECT CAST(2 AS BIGINT) AS commit_version,
         'update_postimage' AS change_type,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(n + 1) AS BIGINT) AS sum_val
  FROM base WHERE band IN (0, 1)
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'delete',
         CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
  FROM base WHERE nk IN (0, 1)
  UNION ALL
  SELECT CAST(4 AS BIGINT), 'compaction',
         CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
  UNION ALL
  SELECT CAST(5 AS BIGINT), 'update_postimage',
         CAST(count(*) AS BIGINT), CAST(sum(n + 5) AS BIGINT)
  FROM base WHERE band = 2
) t
ORDER BY commit_version, change_type
"""


@register(
    "stream_versioned_cdf_compaction",
    oracle=_CDF_COMPACT_ORACLE,
    tags=("streaming", "versioned"),
    round=13,
)
def stream_versioned_cdf_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF stream across an OPTIMIZE commit (round 13, VERDICT r12 #6).
    compact_table rewrites every partition data-identically while
    materializing deletion vectors; the stream's per-partition tasks
    filter the pre-image through the DVs the commit drops, so old-minus-DV
    equals new and the commit emits NOTHING — no phantom inserts for
    DV-materialized rows, no spurious deletes. Commits before and after
    the compaction stream normally; the 'compaction' output row pins
    the phantom count at zero (a regression would also surface as extra
    groupBy rows and break the hash)."""
    import shutil
    import tempfile
    import uuid as _uuid

    from us_stock_data_pipeline_spark.etl.cdf_stream import register_cdf_source
    from us_stock_data_pipeline_spark.etl.versioned import (
        compact_table,
        versioned_delete,
        versioned_merge_upsert,
    )

    base = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nk"),
            (F.col("c_nationkey") % 5).cast("long").alias("band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("val"))
        # reused by every commit below: cache the per-nation rollup so
        # each staging write reads 25 cached rows, not customer (guide §5)
        .transform(registry.track_persist)
    )
    root = tempfile.mkdtemp(prefix=f"us_sdps_cdfcmp_{_uuid.uuid4().hex[:8]}_")
    sink = f"cdf_cmp_{_uuid.uuid4().hex[:8]}"
    try:
        versioned_merge_upsert(
            spark, base, root, key_cols=("nk",), partition_cols=("band",)
        )
        v2 = base.filter(F.col("band").isin(0, 1)).withColumn(
            "val", F.col("val") + 1
        )
        versioned_merge_upsert(
            spark, v2, root, key_cols=("nk",), partition_cols=("band",)
        )
        versioned_delete(
            spark,
            spark.createDataFrame([(0,), (1,)], "nk long"),
            root,
            key_cols=("nk",),
        )
        v_opt = compact_table(spark, root)  # v4: OPTIMIZE
        assert v_opt == 4
        v5 = base.filter(F.col("band") == 2).withColumn(
            "val", F.col("val") + 5
        )
        versioned_merge_upsert(
            spark, v5, root, key_cols=("nk",), partition_cols=("band",)
        )
        register_cdf_source(spark)
        feed = (
            spark.readStream.format("versioned_cdf")
            .option("path", root)
            .option("keycols", "nk")
            .option("tableschema", "nk long, band long, val long")
            .option("startingversion", "1")
            .load()
        )
        q = (
            feed.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        raw = spark.table(sink)
        agg = raw.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("val").cast("long").alias("sum_val"),
        )
        phantom = raw.filter(F.col("_commit_version") == v_opt).count()
        compaction_row = spark.createDataFrame(
            [(v_opt, "compaction", phantom, None)],
            "commit_version long, change_type string, n_rows long, sum_val long",
        )
        out = agg.unionByName(compaction_row).orderBy(
            "commit_version", "change_type"
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# widened MERGE INTO: assignment lists, clause stacks, INSERT (cols) VALUES
# --------------------------------------------------------------------------

# Target: per-nation (nk key, band = nk % 5 partition, val = count,
# flag = 0). Source: every nation with val = count + (1 - nk % 2)
# (even nk -> count+1, odd nk -> count), plus shifted new keys
# (nk + 100, band 9, val = count). MERGE:
#   WHEN MATCHED AND s.val > t.val  -> UPDATE SET val = s.val,
#                                      flag = t.flag + 1   (even nk)
#   WHEN MATCHED                    -> UPDATE SET val = t.val + s.val
#                                      (odd nk -> 2*count, flag stays 0)
#   WHEN NOT MATCHED -> INSERT (nk, band, val)
#                       VALUES (s.nk, s.band, s.val * 10)  (flag NULL)
_SQL_MERGE_CLAUSES_ORACLE = """
WITH base AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
         CAST(c_nationkey % 5 AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
),
final AS (
  SELECT band, n + 1 AS val, 1 AS flag FROM base WHERE nk % 2 = 0
  UNION ALL
  SELECT band, 2 * n AS val, 0 AS flag FROM base WHERE nk % 2 = 1
  UNION ALL
  SELECT CAST(9 AS BIGINT) AS band, 10 * n AS val, NULL AS flag FROM base
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(val) AS BIGINT) AS sum_val,
       CAST(sum(flag) AS BIGINT) AS sum_flag,
       CAST(count(*) FILTER (WHERE flag IS NULL) AS BIGINT) AS n_null_flag
FROM final
GROUP BY band
ORDER BY band
"""


@register(
    "etl_versioned_sql_merge_clauses",
    oracle=_SQL_MERGE_CLAUSES_ORACLE,
    tags=("etl", "versioned", "sql"),
    round=13,
)
def etl_versioned_sql_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Widened MERGE INTO (round 13, VERDICT r12 #5 — 'the first thing
    any Delta/Iceberg user types'): UPDATE SET col = expr assignment
    lists referencing both aliases, TWO stacked WHEN MATCHED AND
    clauses with first-applicable-wins precedence, and WHEN NOT MATCHED
    INSERT (cols) VALUES (exprs) with NULL fill for unlisted columns —
    all in ONE atomic merge commit (etl/vcatalog.py `_merge_into`).
    The oracle recomputes every clause's effect from `customer`."""
    import shutil
    import tempfile
    import uuid as _uuid

    from us_stock_data_pipeline_spark.etl.vcatalog import (
        register_versioned,
        unregister_versioned,
        versioned_sql,
    )
    from us_stock_data_pipeline_spark.etl.versioned import versioned_merge_upsert

    base = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nk"),
            (F.col("c_nationkey") % 5).cast("long").alias("band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("val"))
        .withColumn("flag", F.lit(0).cast("long"))
    )
    root = tempfile.mkdtemp(prefix=f"us_sdps_mrgcl_{_uuid.uuid4().hex[:8]}_")
    name = f"mrgcl_{_uuid.uuid4().hex[:8]}"
    src_view = f"mrgcl_src_{_uuid.uuid4().hex[:8]}"
    try:
        versioned_merge_upsert(
            spark, base, root, key_cols=("nk",), partition_cols=("band",)
        )
        register_versioned(
            spark, name, root, key_cols=("nk",), partition_cols=("band",)
        )
        matched_src = base.select(
            "nk",
            "band",
            (F.col("val") + 1 - F.col("nk") % 2).alias("val"),
        )
        new_src = base.select(
            (F.col("nk") + 100).alias("nk"),
            F.lit(9).cast("long").alias("band"),
            F.col("val"),
        )
        matched_src.unionByName(new_src).createOrReplaceTempView(src_view)
        out = versioned_sql(
            spark,
            f"""
            MERGE INTO {name} AS t USING {src_view} AS s ON t.nk = s.nk
            WHEN MATCHED AND s.val > t.val
              THEN UPDATE SET val = s.val, flag = t.flag + 1
            WHEN MATCHED THEN UPDATE SET val = t.val + s.val
            WHEN NOT MATCHED
              THEN INSERT (nk, band, val) VALUES (s.nk, s.band, s.val * 10)
            """,
        ).first()
        assert out.n_deleted == 0
        agg = versioned_sql(
            spark,
            f"""
            SELECT band,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(val) AS BIGINT) AS sum_val,
                   CAST(sum(flag) AS BIGINT) AS sum_flag,
                   CAST(count(CASE WHEN flag IS NULL THEN 1 END) AS BIGINT)
                     AS n_null_flag
            FROM {name}
            GROUP BY band
            ORDER BY band
            """,
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        unregister_versioned(spark, name)
        spark.catalog.dropTempView(src_view)
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# tokenizer: SECOND unigram-LM EM iteration on the pruned vocab (VERDICT #8)
# --------------------------------------------------------------------------
# Iteration 1 is exactly `tokenizer_unigram_em_step` (round12_ops2):
# seed counts -> fixed-point scores -> Viterbi fwd/bwd -> on-path counts
# -> top-K pruning. Iteration 2 re-scores the PRUNED vocabulary from the
# re-estimated counts and runs the same E-step again — the SentencePiece
# train loop's next turn, demonstrating the fixed-point scheme is stable
# under iteration. Segmentability is preserved the way SentencePiece
# does it: single-character pieces are ALWAYS retained (pruned ones keep
# their seed counts), so every word still has a segmentation in round 2.
# All arithmetic stays integer/exact-double (the oracle-fragility rule);
# both engines run the same generated SQL shape.

from us_stock_data_pipeline_spark.queries.round12_ops2 import (  # noqa: E402
    MAX_PIECE,
    MAX_WLEN,
    TOP_K,
    TOP_WORDS,
    _DUCK_PREAMBLE,
    _arr_em_newc,
    _l2fp_ctes,
    _l2fp_df,
    _word_span_arrays,
)


def _dp_sql_blocks(words: str, spans_s: str, sfx: str) -> tuple[str, str, str]:
    """State-carrying forward/backward Viterbi DP CTE chains over
    `words`(word,...) and `spans_s`(word, freq, i, j, piece, s), with
    CTE names suffixed `sfx` so two EM iterations coexist in one WITH.
    Returns (ctes, dpf_all_name, dpb_all_name). Same linear-chain shape
    as round12_ops2._unigram_core_sql (step j references only j-1 —
    naive unrolling re-inlines exponentially in both engines)."""
    dpf = [f"dpf0{sfx} AS (SELECT word, CAST(0 AS BIGINT) AS p0 FROM {words})"]
    for j in range(1, MAX_WLEN + 1):
        carried = ", ".join(f"d.p{k}" for k in range(j))
        cases = " ".join(
            f"WHEN {i} THEN d.p{i}" for i in range(max(0, j - MAX_PIECE), j)
        )
        group = ", ".join(["d.word"] + [f"d.p{k}" for k in range(j)])
        dpf.append(
            f"""dpf{j}{sfx} AS (
  SELECT d.word, {carried},
         max(CASE sp.i {cases} END + sp.s) AS p{j}
  FROM dpf{j - 1}{sfx} d
  LEFT JOIN {spans_s} sp ON sp.word = d.word AND sp.j = {j}
  GROUP BY {group}
)"""
        )
    dpf_all = " UNION ALL ".join(
        f"SELECT word, CAST({j} AS BIGINT) AS pos, p{j} AS sc FROM dpf{MAX_WLEN}{sfx}"
        f" WHERE p{j} IS NOT NULL"
        for j in range(MAX_WLEN + 1)
    )
    dpb = [f"dpb0{sfx} AS (SELECT word, CAST(0 AS BIGINT) AS r0 FROM {words})"]
    for k in range(1, MAX_WLEN + 1):
        carried = ", ".join(f"d.r{t}" for t in range(k))
        cases = " ".join(
            f"WHEN {d} THEN d.r{k - d}" for d in range(1, min(MAX_PIECE, k) + 1)
        )
        group = ", ".join(["d.word"] + [f"d.r{t}" for t in range(k)])
        dpb.append(
            f"""dpb{k}{sfx} AS (
  SELECT d.word, {carried},
         max(sp.s + CASE sp.j - sp.i {cases} END) AS r{k}
  FROM dpb{k - 1}{sfx} d
  LEFT JOIN {spans_s} sp
    ON sp.word = d.word AND sp.i = CAST(length(d.word) AS BIGINT) - {k}
  GROUP BY {group}
)"""
        )
    dpb_all = " UNION ALL ".join(
        f"SELECT word, CAST(length(word) AS BIGINT) - {k} AS pos,"
        f" r{k} AS sc FROM dpb{MAX_WLEN}{sfx}"
        f" WHERE r{k} IS NOT NULL AND CAST(length(word) AS BIGINT) - {k} >= 0"
        for k in range(MAX_WLEN + 1)
    )
    ctes = ",\n".join(
        dpf
        + [f"dpf_all{sfx} AS ({dpf_all})"]
        + dpb
        + [f"dpb_all{sfx} AS ({dpb_all})"]
    )
    return ctes, f"dpf_all{sfx}", f"dpb_all{sfx}"


def _em_pass_sql(words: str, spans_s: str, sfx: str) -> str:
    """E-step CTEs: on-path counting for scored spans `spans_s` ->
    `newc{sfx}`(piece, new_count)."""
    dp_ctes, dpf_all, dpb_all = _dp_sql_blocks(words, spans_s, sfx)
    return f"""{dp_ctes},
dptot{sfx} AS (
  SELECT f.word, f.sc FROM {dpf_all} f
  JOIN {words} w ON w.word = f.word AND f.pos = CAST(length(w.word) AS BIGINT)
),
newc{sfx} AS (
  SELECT sp.piece, CAST(sum(sp.freq) AS BIGINT) AS new_count
  FROM {spans_s} sp
  JOIN {dpf_all} f ON f.word = sp.word AND f.pos = sp.i
  JOIN {dpb_all} b ON b.word = sp.word AND b.pos = sp.j
  JOIN dptot{sfx} t ON t.word = sp.word
  WHERE f.sc + sp.s + b.sc = t.sc
  GROUP BY sp.piece
)"""


def _unigram_em2_sql(bin_len: str) -> str:
    """Two chained EM iterations; expects CTEs/views `words`(word, freq)
    and `spans`(word, freq, i, j, piece) in scope."""
    l2f1 = _l2fp_ctes("l2f1", "lin1", bin_len)
    l2f2 = _l2fp_ctes("l2f2", "lin2", bin_len)
    em1 = _em_pass_sql("words", "spans_s1", "_1")
    em2 = _em_pass_sql("words", "spans_s2", "_2")
    return f"""
WITH seed AS (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM spans GROUP BY piece
),
lin1 AS (
  SELECT piece AS id, cnt FROM seed
  UNION ALL
  SELECT '' AS id, (SELECT CAST(sum(cnt) AS BIGINT) FROM seed) AS cnt
),
{l2f1},
piece_s1 AS (
  SELECT id AS piece, cnt AS seed_count,
         l2 - (SELECT l2 FROM l2f1 WHERE id = '') AS s
  FROM l2f1 WHERE id <> ''
),
spans_s1 AS (
  SELECT sp.word, sp.freq, sp.i, sp.j, sp.piece, ps.s
  FROM spans sp JOIN piece_s1 ps ON sp.piece = ps.piece
),
{em1},
ranked1 AS (
  SELECT piece, new_count,
         CAST(row_number() OVER (ORDER BY new_count DESC, piece ASC)
              AS BIGINT) AS rank
  FROM newc_1
),
vocab2 AS (
  SELECT piece, new_count AS cnt FROM ranked1 WHERE rank <= {TOP_K}
  UNION ALL
  SELECT s.piece, s.cnt FROM seed s
  WHERE CAST(length(s.piece) AS BIGINT) = 1
    AND s.piece NOT IN (SELECT piece FROM ranked1 WHERE rank <= {TOP_K})
),
lin2 AS (
  SELECT piece AS id, cnt FROM vocab2
  UNION ALL
  SELECT '' AS id, (SELECT CAST(sum(cnt) AS BIGINT) FROM vocab2) AS cnt
),
{l2f2},
piece_s2 AS (
  SELECT id AS piece, cnt AS count1,
         l2 - (SELECT l2 FROM l2f2 WHERE id = '') AS s
  FROM l2f2 WHERE id <> ''
),
spans_s2 AS (
  SELECT sp.word, sp.freq, sp.i, sp.j, sp.piece, ps.s
  FROM spans sp JOIN piece_s2 ps ON sp.piece = ps.piece
),
{em2},
ranked2 AS (
  SELECT ps.piece, ps.count1, n.new_count AS new_count2, ps.s AS score2_fp,
         CAST(row_number() OVER (ORDER BY n.new_count DESC, ps.piece ASC)
              AS BIGINT) AS rank
  FROM piece_s2 ps JOIN newc_2 n ON n.piece = ps.piece
)
SELECT piece, count1, new_count2, score2_fp, rank
FROM ranked2 WHERE rank <= {TOP_K} ORDER BY rank
"""


_EM2_ORACLE = _unigram_em2_sql("length(to_base({x}, 2)) - 1").replace(
    "WITH seed AS", _DUCK_PREAMBLE.rstrip() + ",\nseed AS", 1
)
for _cte in (
    "\nwords",  # newline-anchored: plain "words AS (" matches doc_words
    "spans",
    "seed",
    "l2f1",
    "l2f2",
    "piece_s1",
    "piece_s2",
    "spans_s1",
    "spans_s2",
    f"dpf{MAX_WLEN}_1",
    f"dpb{MAX_WLEN}_1",
    f"dpf{MAX_WLEN}_2",
    f"dpb{MAX_WLEN}_2",
    "dpf_all_1",
    "dpb_all_1",
    "dpf_all_2",
    "dpb_all_2",
    "ranked1",
    "vocab2",
):
    _EM2_ORACLE = _EM2_ORACLE.replace(f"{_cte} AS (", f"{_cte} AS MATERIALIZED (", 1)


def _words_and_spans(spark: SparkSession, sf_dir: str):
    """Training words (top-W by freq) and candidate spans — the same
    DataFrame construction as `tokenizer_unigram_em_step` (the only
    data-sized stages: one scan, two shuffles)."""
    from us_stock_data_pipeline_spark.registry import track_persist

    docs = load_table(spark, sf_dir, "documents")
    words = track_persist(
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"))
        .filter(F.length("word").between(2, MAX_WLEN))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(TOP_WORDS)
    )
    spans = (
        words.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(0), F.length("word") - 1)).alias("i0"),
        )
        .withColumn("i", F.col("i0").cast("long"))
        .select(
            "word",
            "freq",
            "i",
            "i0",
            F.explode(
                F.sequence(
                    F.col("i0") + 1,
                    F.least(F.col("i0") + MAX_PIECE, F.length("word")),
                )
            ).alias("j0"),
        )
        .withColumn("j", F.col("j0").cast("long"))
        .drop("i0", "j0")
        .withColumn(
            "piece", F.expr("substring(word, CAST(i+1 AS INT), CAST(j-i AS INT))")
        )
    )
    return words, spans


def _fp_scores(lin: DataFrame) -> DataFrame:
    """(id, cnt) -> (piece, cnt, s) with s = L2FP(cnt) - L2FP(total);
    `lin` must contain the '' total row."""
    from us_stock_data_pipeline_spark.registry import track_persist

    l2f = track_persist(_l2fp_df(lin))
    tot = l2f.filter(F.col("id") == "").select(F.col("l2").alias("tot_l2"))
    return l2f.filter(F.col("id") != "").crossJoin(F.broadcast(tot)).select(
        F.col("id").alias("piece"),
        F.col("cnt"),
        (F.col("l2") - F.col("tot_l2")).alias("s"),
    )


@register(
    "tokenizer_unigram_em2",
    oracle=_EM2_ORACLE,
    tags=("llm", "tokenizer"),
    round=13,
)
def tokenizer_unigram_em2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND unigram-LM EM iteration on the pruned vocabulary (round
    13, VERDICT r12 #8 — the SentencePiece train loop's next turn,
    proving the fixed-point scheme is stable under iteration).
    Iteration 1 = `tokenizer_unigram_em_step` exactly: seed counts ->
    fixed-point log2 scores -> state-carrying Viterbi fwd/bwd -> on-path
    counts -> top-K prune. Iteration 2 re-scores the SURVIVING vocab
    from the re-estimated counts (single-character pieces are always
    retained — pruned ones at their seed counts — so every word stays
    segmentable, SentencePiece's required-chars rule), restricts spans
    to that vocab, and runs the same E-step. Every quantity remains
    integer-exact; DuckDB replays both iterations hash-identically.
    Scale shape is unchanged from iteration 1: data-sized work is the
    one word-histogram shuffle; both EM passes run on the constant-size
    training sample."""
    words, spans = _words_and_spans(spark, sf_dir)
    seed = spans.groupBy("piece").agg(F.sum("freq").cast("long").alias("cnt"))
    lin1 = seed.select(F.col("piece").alias("id"), "cnt").unionAll(
        seed.agg(F.sum("cnt").cast("long").alias("cnt")).select(
            F.lit("").alias("id"), "cnt"
        )
    )
    piece_s1 = _fp_scores(lin1)
    # E-step 1 as per-word array DP (round12_ops2._arr_em_newc): same
    # integer max-plus recurrences, one projection instead of 16
    # chained join+aggregate stages per pass.
    newc1 = _arr_em_newc(_word_span_arrays(words, piece_s1.select("piece", "s")))
    from pyspark.sql import Window

    w_rank1 = Window.orderBy(F.desc("new_count"), F.asc("piece"))
    kept1 = (
        newc1.withColumn("rank", F.row_number().over(w_rank1).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("piece", F.col("new_count").alias("cnt"))
    )
    singles = (
        seed.filter(F.length("piece") == 1)
        .join(kept1.select("piece"), "piece", "left_anti")
        .select("piece", "cnt")
    )
    # Materialize the (<= TOP_K + 26 rows) vocabulary between the two
    # iterations: it truncates iteration 2's lineage at a literal frame,
    # so Catalyst analyzes one EM DAG at a time instead of a doubled
    # plan (the dim-table pattern — this is the iteration boundary a
    # production trainer would checkpoint anyway).
    vocab2_rows = kept1.unionByName(singles).collect()
    vocab2 = spark.createDataFrame(vocab2_rows, "piece string, cnt long")
    lin2 = vocab2.select(F.col("piece").alias("id"), "cnt").unionAll(
        vocab2.agg(F.sum("cnt").cast("long").alias("cnt")).select(
            F.lit("").alias("id"), "cnt"
        )
    )
    piece_s2 = _fp_scores(lin2)
    newc2 = _arr_em_newc(_word_span_arrays(words, piece_s2.select("piece", "s")))
    w_rank2 = Window.orderBy(F.desc("new_count"), F.asc("piece"))
    return (
        piece_s2.select("piece", F.col("cnt").alias("count1"), "s")
        .join(newc2, "piece")
        .withColumn("rank", F.row_number().over(w_rank2).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "piece",
            "count1",
            F.col("new_count").alias("new_count2"),
            F.col("s").alias("score2_fp"),
            "rank",
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# multimodal: PROGRESSIVE COLOR JPEG decode (VERDICT r12 #4)
# --------------------------------------------------------------------------

_JPGPC_MX = 3  # MCUs per axis -> 48x32 RGB images
_JPGPC_MY = 2

# Same closed-form oracle scheme as multimodal_jpeg_color_decode
# (round10_ops.py): constant 16x16 MCUs survive the codec bit-exactly —
# through the PROGRESSIVE layout too, since the quantized coefficients
# are identical and only the entropy layout differs — so the oracle
# replays the integer fixed-point color transform from the card formula.
_JPEG_PROG_COLOR_ORACLE = f"""
WITH ids AS (
  SELECT doc_id, source FROM documents WHERE doc_id % 19 = 0
),
mcus AS (
  SELECT i.doc_id, i.source,
         CAST((i.doc_id * 5 + mx.g * 11 + my.g * 3) % 256 AS BIGINT) AS r,
         CAST((i.doc_id * 9 + mx.g * 7 + my.g * 13) % 256 AS BIGINT) AS g,
         CAST((i.doc_id * 3 + mx.g * 17 + my.g * 5) % 256 AS BIGINT) AS b
  FROM ids i,
       LATERAL (SELECT unnest(range(0, {_JPGPC_MX})) AS g) mx,
       LATERAL (SELECT unnest(range(0, {_JPGPC_MY})) AS g) my
),
ycc AS (
  SELECT doc_id, source,
         least(greatest((299000*r + 587000*g + 114000*b + 500000) // 1000000, 0), 255) AS y,
         least(greatest((128000000 - 168736*r - 331264*g + 500000*b + 500000) // 1000000, 0), 255) AS cb,
         least(greatest((128000000 + 500000*r - 418688*g - 81312*b + 500000) // 1000000, 0), 255) AS cr
  FROM mcus
),
rgb AS (
  SELECT doc_id, source,
         least(greatest((1000000*y + 1402000*(cr - 128) + 500000 + 512000000) // 1000000 - 512, 0), 255) AS er,
         least(greatest((1000000*y - 344136*(cb - 128) - 714136*(cr - 128) + 500000 + 512000000) // 1000000 - 512, 0), 255) AS eg,
         least(greatest((1000000*y + 1772000*(cb - 128) + 500000 + 512000000) // 1000000 - 512, 0), 255) AS eb
  FROM ycc
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_imgs,
       CAST(count(*) * 256 AS BIGINT) AS n_pixels,
       CAST(sum(er) * 256 AS BIGINT) AS sum_r,
       CAST(sum(eg) * 256 AS BIGINT) AS sum_g,
       CAST(sum(eb) * 256 AS BIGINT) AS sum_b,
       CAST(max(er) AS BIGINT) AS max_r
FROM rgb
GROUP BY source
ORDER BY source
"""


@register(
    "multimodal_jpeg_progressive_color_decode",
    oracle=_JPEG_PROG_COLOR_ORACLE,
    tags=("llm", "multimodal", "udf"),
    round=13,
)
def multimodal_jpeg_progressive_color_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END REAL **PROGRESSIVE COLOR JPEG** decode (round 13,
    VERDICT r12 #4 — retires the r12 NotImplementedError gate; the only
    image format still gated is lossy VP8). Every 19th document gets a
    48x32 RGB card encoded as a genuine SOF2 color JPEG: one
    INTERLEAVED DC scan (Y Y Y Y Cb Cr MCU order, per-component
    predictors) plus six NON-interleaved AC scans (2 spectral bands x 3
    components, EOBRUN-coded — constant MCUs collapse each scan to one
    multi-block EOBn run, the genuinely progressive construct). The
    payloads ride a binary column through Arrow-batched mapInPandas and
    `decode_jpeg_color_progressive` accumulates coefficients across all
    7 scans, upsamples chroma and converts with the fixed-point
    YCbCr->RGB — no Pillow, no libjpeg. Constant MCUs transit
    bit-exactly, so the oracle enumerates the decoded channel sums in
    closed form; arbitrary-content equivalence with the baseline color
    decoder is pinned by tests/test_jpeg_progressive_color.py. Plan:
    one scan, two Arrow stages, one rollup; bytes never visit the
    driver."""
    import pandas as pd

    from us_stock_data_pipeline_spark.functions.multimodal import (
        encode_jpeg_progressive_color_card,
        jpeg_progressive_color_decode_batch,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 19 == 0)
        .select("doc_id", "source")
    )

    def encode_batch(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "source": pdf["source"],
                    "payload": [
                        encode_jpeg_progressive_color_card(int(d), _JPGPC_MX, _JPGPC_MY)
                        for d in pdf["doc_id"]
                    ],
                }
            )

    def decode_with_source(batches):
        for pdf in batches:
            src = pdf[["doc_id", "source"]]
            for out in jpeg_progressive_color_decode_batch(iter([pdf])):
                yield out.merge(src, on="doc_id", how="left")

    encoded = docs.mapInPandas(
        encode_batch,
        schema="doc_id long, source string, payload binary",
    )
    decoded = encoded.mapInPandas(
        decode_with_source,
        schema=(
            "doc_id long, width long, height long, sum_r long, sum_g long,"
            " sum_b long, max_r long, source string"
        ),
    )
    return (
        decoded.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_imgs"),
            F.sum(F.col("width") * F.col("height")).cast("long").alias("n_pixels"),
            F.sum("sum_r").cast("long").alias("sum_r"),
            F.sum("sum_g").cast("long").alias("sum_g"),
            F.sum("sum_b").cast("long").alias("sum_b"),
            F.max("max_r").cast("long").alias("max_r"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# catalog: MERGE INTO ... WHEN NOT MATCHED BY SOURCE (sync-to-source)
# --------------------------------------------------------------------------

# Target: every nation (nk key, band = nk % 5 partition, val = count).
# Source: only nations with nk % 3 != 0, val = count + 2. Statement:
#   MATCHED                      -> val = s.val          (nk % 3 != 0)
#   NOT MATCHED BY SOURCE, nk<10 -> val = -1             (nk % 3 = 0, nk < 10)
#   NOT MATCHED BY SOURCE        -> DELETE               (nk % 3 = 0, nk >= 10)
_SQL_MERGE_BY_SOURCE_ORACLE = """
WITH base AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
         CAST(c_nationkey % 5 AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
),
final AS (
  SELECT nk, band, n + 2 AS val FROM base WHERE nk % 3 <> 0
  UNION ALL
  SELECT nk, band, CAST(-1 AS BIGINT) AS val FROM base WHERE nk % 3 = 0 AND nk < 10
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(val) AS BIGINT) AS sum_val,
       CAST(min(val) AS BIGINT) AS min_val
FROM final
GROUP BY band
ORDER BY band
"""


@register(
    "etl_versioned_sql_merge_by_source",
    oracle=_SQL_MERGE_BY_SOURCE_ORACLE,
    tags=("etl", "versioned", "sql"),
    round=13,
)
def etl_versioned_sql_merge_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO with WHEN NOT MATCHED BY SOURCE (round 13) — Delta's
    third clause type and the canonical table-sync statement: target
    rows the source no longer carries are flagged or deleted in the
    SAME atomic commit as the matched updates. Execution switches to a
    full-outer join with literal presence flags (null-safe
    matched-ness); clause-deleted pre-images fold into the single
    rewrite commit via `versioned_merge_upsert(delete_rows=...)`.
    The oracle recomputes all three clause effects from `customer`."""
    import shutil
    import tempfile
    import uuid as _uuid

    from us_stock_data_pipeline_spark.etl.vcatalog import (
        register_versioned,
        unregister_versioned,
        versioned_sql,
    )
    from us_stock_data_pipeline_spark.etl.versioned import versioned_merge_upsert

    base = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nk"),
            (F.col("c_nationkey") % 5).cast("long").alias("band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("val"))
        # reused by every commit below: cache the per-nation rollup so
        # each staging write reads 25 cached rows, not customer (guide §5)
        .transform(registry.track_persist)
    )
    root = tempfile.mkdtemp(prefix=f"us_sdps_mrgbs_{_uuid.uuid4().hex[:8]}_")
    name = f"mrgbs_{_uuid.uuid4().hex[:8]}"
    src_view = f"mrgbs_src_{_uuid.uuid4().hex[:8]}"
    try:
        versioned_merge_upsert(
            spark, base, root, key_cols=("nk",), partition_cols=("band",)
        )
        register_versioned(
            spark, name, root, key_cols=("nk",), partition_cols=("band",)
        )
        base.filter(F.col("nk") % 3 != 0).withColumn(
            "val", F.col("val") + 2
        ).createOrReplaceTempView(src_view)
        out = versioned_sql(
            spark,
            f"""
            MERGE INTO {name} AS t USING {src_view} AS s ON t.nk = s.nk
            WHEN MATCHED THEN UPDATE SET val = s.val
            WHEN NOT MATCHED BY SOURCE AND t.nk < 10 THEN UPDATE SET val = -1
            WHEN NOT MATCHED BY SOURCE THEN DELETE
            """,
        ).first()
        assert out.n_deleted >= 1
        agg = versioned_sql(
            spark,
            f"""
            SELECT band,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(val) AS BIGINT) AS sum_val,
                   CAST(min(val) AS BIGINT) AS min_val
            FROM {name}
            GROUP BY band
            ORDER BY band
            """,
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        unregister_versioned(spark, name)
        spark.catalog.dropTempView(src_view)
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# catalog: CHECK constraints via SQL (ADD/DROP CONSTRAINT, write gating)
# --------------------------------------------------------------------------

# Lifecycle (deterministic versions): v1 base (per-nation counts, all
# >= 1), v2 = ADD CONSTRAINT val_pos CHECK (val > 0) (snapshot
# validated), then an INSERT with val = -1 is REJECTED pre-commit
# (version stays 2), v3 = valid INSERT (nk 500, val 7), v4 = DROP
# CONSTRAINT, v5 = the previously-rejected row now commits.
_SQL_CONSTRAINTS_ORACLE = """
WITH base AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
         CAST(c_nationkey % 5 AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
),
final AS (
  SELECT nk, band, n AS val FROM base
  UNION ALL SELECT CAST(500 AS BIGINT), CAST(0 AS BIGINT), CAST(7 AS BIGINT)
  UNION ALL SELECT CAST(501 AS BIGINT), CAST(1 AS BIGINT), CAST(-1 AS BIGINT)
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(val) AS BIGINT) AS sum_val,
       CAST(1 AS BIGINT) AS n_rejected,
       CAST(5 AS BIGINT) AS final_version
FROM final
GROUP BY band
ORDER BY band
"""


@register(
    "etl_versioned_sql_constraints",
    oracle=_SQL_CONSTRAINTS_ORACLE,
    tags=("etl", "versioned", "sql"),
    round=13,
)
def etl_versioned_sql_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style CHECK constraints through the SQL front-end (round
    13): `ALTER TABLE ADD CONSTRAINT val_pos CHECK (val > 0)` validates
    the existing snapshot (one scan) and commits metadata-only; every
    subsequent INSERT/UPDATE/MERGE batch is validated BEFORE its
    manifest publishes, so a violating statement raises
    ConstraintViolationError and the table version does not move (the
    query pins that with n_rejected and final_version columns); DROP
    CONSTRAINT lifts the gate. Enforcement is one map-side count over
    the staged batch — no extra shuffle on the write path."""
    import shutil
    import tempfile
    import uuid as _uuid

    from us_stock_data_pipeline_spark.etl.vcatalog import (
        register_versioned,
        unregister_versioned,
        versioned_sql,
    )
    from us_stock_data_pipeline_spark.etl.versioned import (
        ConstraintViolationError,
        current_version,
        versioned_merge_upsert,
    )

    base = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nk"),
            (F.col("c_nationkey") % 5).cast("long").alias("band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("val"))
        # reused by every commit below: cache the per-nation rollup so
        # each staging write reads 25 cached rows, not customer (guide §5)
        .transform(registry.track_persist)
    )
    root = tempfile.mkdtemp(prefix=f"us_sdps_cons_{_uuid.uuid4().hex[:8]}_")
    name = f"cons_{_uuid.uuid4().hex[:8]}"
    bad_stmt = (
        f"INSERT INTO {name} (nk, band, val) VALUES "
        "(CAST(501 AS BIGINT), CAST(1 AS BIGINT), CAST(-1 AS BIGINT))"
    )
    try:
        versioned_merge_upsert(
            spark, base, root, key_cols=("nk",), partition_cols=("band",)
        )
        register_versioned(
            spark, name, root, key_cols=("nk",), partition_cols=("band",)
        )
        versioned_sql(
            spark, f"ALTER TABLE {name} ADD CONSTRAINT val_pos CHECK (val > 0)"
        )
        n_rejected = 0
        try:
            versioned_sql(spark, bad_stmt)
        except ConstraintViolationError:
            n_rejected = 1
        assert current_version(spark, root) == 2  # rejection published nothing
        versioned_sql(
            spark,
            f"INSERT INTO {name} (nk, band, val) VALUES "
            "(CAST(500 AS BIGINT), CAST(0 AS BIGINT), CAST(7 AS BIGINT))",
        )
        versioned_sql(spark, f"ALTER TABLE {name} DROP CONSTRAINT val_pos")
        versioned_sql(spark, bad_stmt)  # gate lifted: commits now
        final_version = current_version(spark, root)
        agg = versioned_sql(
            spark,
            f"""
            SELECT band,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(val) AS BIGINT) AS sum_val,
                   CAST({n_rejected} AS BIGINT) AS n_rejected,
                   CAST({final_version} AS BIGINT) AS final_version
            FROM {name}
            GROUP BY band
            ORDER BY band
            """,
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        unregister_versioned(spark, name)
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# catalog: table_changes('t', lo, hi) — Delta's CDF table-valued SQL form
# --------------------------------------------------------------------------

# Lifecycle: v1 base (per-nation counts, band = nk % 5), v2 updates
# bands 0-1 with val+3, v3 DV-deletes keys {0,1}. table_changes('t',1,3)
# diffs snapshots 1 and 3: bands 0-1 minus the deleted keys stream as
# update_postimage (val = n+3), keys {0,1} as delete (NULL values).
_SQL_TABLE_CHANGES_ORACLE = """
WITH base AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
         CAST(c_nationkey % 5 AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
)
SELECT * FROM (
  SELECT 'update_postimage' AS change_type,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(n + 3) AS BIGINT) AS sum_val
  FROM base WHERE band IN (0, 1) AND nk NOT IN (0, 1)
  UNION ALL
  SELECT 'delete', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
  FROM base WHERE nk IN (0, 1)
) t
ORDER BY change_type
"""


@register(
    "etl_versioned_sql_table_changes",
    oracle=_SQL_TABLE_CHANGES_ORACLE,
    tags=("etl", "versioned", "sql"),
    round=13,
)
def etl_versioned_sql_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's `table_changes('t', lo, hi)` CDF table-valued form in
    SQL (round 13): `versioned_sql` rewrites each occurrence to a
    lazily-registered view over the batch `read_changes` two-snapshot
    diff (manifest-pruned scans, one null-safe full-outer join on the
    keys), so the change feed composes inside arbitrary SQL — joins,
    aggregates, time-travel clauses — exactly like Delta's TVF. The
    oracle replays the update/delete feed in closed form."""
    import shutil
    import tempfile
    import uuid as _uuid

    from us_stock_data_pipeline_spark.etl.vcatalog import (
        register_versioned,
        unregister_versioned,
        versioned_sql,
    )
    from us_stock_data_pipeline_spark.etl.versioned import (
        versioned_delete,
        versioned_merge_upsert,
    )

    base = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nk"),
            (F.col("c_nationkey") % 5).cast("long").alias("band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("val"))
        # reused by every commit below: cache the per-nation rollup so
        # each staging write reads 25 cached rows, not customer (guide §5)
        .transform(registry.track_persist)
    )
    root = tempfile.mkdtemp(prefix=f"us_sdps_tchg_{_uuid.uuid4().hex[:8]}_")
    name = f"tchg_{_uuid.uuid4().hex[:8]}"
    try:
        versioned_merge_upsert(
            spark, base, root, key_cols=("nk",), partition_cols=("band",)
        )
        v2 = base.filter(F.col("band").isin(0, 1)).withColumn(
            "val", F.col("val") + 3
        )
        versioned_merge_upsert(
            spark, v2, root, key_cols=("nk",), partition_cols=("band",)
        )
        versioned_delete(
            spark,
            spark.createDataFrame([(0,), (1,)], "nk long"),
            root,
            key_cols=("nk",),
        )
        register_versioned(
            spark, name, root, key_cols=("nk",), partition_cols=("band",)
        )
        agg = versioned_sql(
            spark,
            f"""
            SELECT _change_type AS change_type,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(val) AS BIGINT) AS sum_val
            FROM table_changes('{name}', 1, 3)
            GROUP BY _change_type
            ORDER BY change_type
            """,
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        unregister_versioned(spark, name)
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# corpus: UniMax budget allocation (waterfilling with per-group epoch caps)
# --------------------------------------------------------------------------

# UniMax (Chung et al., 2023): allocate a total training-token budget B
# across groups (languages/sources) as equally as possible, capping each
# group at E epochs of its corpus (cap_g = E * tokens_g). Waterfilling
# closed form over caps sorted ascending with rank i and prefix sums:
# group i is SATURATED iff cap_i * (n - i + 1) <= B - prefix_{i-1}
# (multiplication form — integer-exact in both engines); k* = max
# saturated rank; unsaturated groups get t = (B - prefix_{k*}) div
# (n - k*). All quantities are integers (the floor-div remainder is
# deliberately dropped), so the oracle replays bit-identically.
_UNIMAX_E = 2  # epoch cap
_UNIMAX_ORACLE = f"""
WITH toks AS (
  SELECT source,
         CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
caps AS (
  SELECT source, tokens, {_UNIMAX_E} * tokens AS cap,
         CAST(row_number() OVER (ORDER BY {_UNIMAX_E} * tokens ASC, source ASC)
              AS BIGINT) AS i,
         CAST(sum({_UNIMAX_E} * tokens)
              OVER (ORDER BY {_UNIMAX_E} * tokens ASC, source ASC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
         CAST(count(*) OVER () AS BIGINT) AS n,
         (SELECT CAST(sum(tokens) AS BIGINT) // 2 FROM toks) AS budget
  FROM toks
),
flagged AS (
  SELECT *, CASE WHEN cap * (n - i + 1) <= budget - (prefix - cap)
                 THEN i ELSE 0 END AS sat_i
  FROM caps
),
kstar AS (
  SELECT CAST(max(sat_i) AS BIGINT) AS k,
         CAST(max(CASE WHEN sat_i > 0 THEN prefix ELSE 0 END) AS BIGINT)
           AS prefix_k
  FROM flagged
)
SELECT f.source, f.tokens, CAST(f.cap AS BIGINT) AS cap,
       CAST(CASE WHEN f.i <= k.k THEN f.cap
                 ELSE (f.budget - k.prefix_k) // (f.n - k.k) END
            AS BIGINT) AS alloc,
       CAST(CASE WHEN f.i <= k.k THEN 1 ELSE 0 END AS BIGINT) AS saturated,
       f.i AS rank
FROM flagged f, kstar k
ORDER BY rank
"""


@register(
    "corpus_unimax_sampling",
    oracle=_UNIMAX_ORACLE,
    tags=("llm", "corpus", "assembly"),
    round=13,
)
def corpus_unimax_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (round 13) — the standard multilingual /
    multi-source training-mixture scheme: spread the token budget as
    equally as possible across groups while capping every group at E
    epochs of its corpus, by closed-form waterfilling (sort caps, prefix
    sums, multiplication-form saturation test, one floor division for
    the waterline). One scan + one groupBy for the token histogram; the
    waterfill runs on the per-GROUP table (constant-size — 100 TB of
    documents still yields one row per source/language), all integer
    arithmetic so DuckDB replays the allocation bit-identically."""
    from pyspark.sql import Window

    toks = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("long")
            .alias("tokens")
        )
        .withColumn("cap", F.lit(_UNIMAX_E) * F.col("tokens"))
    )
    w = Window.orderBy(F.asc("cap"), F.asc("source"))
    total = toks.agg(
        F.expr("CAST(sum(tokens) AS BIGINT) div 2").alias("budget"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    caps = (
        toks.withColumn("i", F.row_number().over(w).cast("long"))
        .withColumn(
            "prefix",
            F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
        .crossJoin(F.broadcast(total))
    )
    flagged = caps.withColumn(
        "sat_i",
        F.when(
            F.col("cap") * (F.col("n") - F.col("i") + 1)
            <= F.col("budget") - (F.col("prefix") - F.col("cap")),
            F.col("i"),
        ).otherwise(F.lit(0)),
    )
    kstar = flagged.agg(
        F.max("sat_i").cast("long").alias("k"),
        F.max(F.when(F.col("sat_i") > 0, F.col("prefix")).otherwise(0))
        .cast("long")
        .alias("prefix_k"),
    )
    return (
        flagged.crossJoin(F.broadcast(kstar))
        .select(
            "source",
            "tokens",
            F.col("cap").cast("long").alias("cap"),
            F.when(F.col("i") <= F.col("k"), F.col("cap"))
            .otherwise(
                F.expr("(budget - prefix_k) div (n - k)")
            )
            .cast("long")
            .alias("alloc"),
            F.when(F.col("i") <= F.col("k"), 1).otherwise(0).cast("long").alias("saturated"),
            F.col("i").alias("rank"),
        )
        .orderBy("rank")
    )
