"""Round-7 additions: character-level exact-substring dedup (the
suffix-array dedup of Lee et al. 2022, re-expressed as a rolling
window-bucket join), corpus BLEU with clipped modified n-gram
precision, b-bit minwise hashing (compressed MinHash sketches), and
DPO implicit-reward margins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from us_stock_data_pipeline_spark.catalog import load_table
from us_stock_data_pipeline_spark import registry
from us_stock_data_pipeline_spark.registry import register

# --------------------------------------------------------------------------
# Exact-substring dedup (character level)
# --------------------------------------------------------------------------

_SUB_L = 40  # match length threshold, chars (the paper uses 50 BPE tokens)
_SUB_PLANT_MOD = 20
_SUB_PLANT_OFFSET = 2_000_000_000

_SUBSTRING_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source, text FROM documents
),
planted AS (
  -- re-posted excerpts: a 120-char slice of every {_SUB_PLANT_MOD}th doc
  SELECT doc_id + {_SUB_PLANT_OFFSET} AS doc_id, 'repost' AS source,
         substr(text, 11, 120) AS text
  FROM base WHERE doc_id % {_SUB_PLANT_MOD} = 0
),
corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM planted
),
spans AS (
  SELECT doc_id, source,
         substr(text, CAST(p.p AS INTEGER), {_SUB_L}) AS gram
  FROM corpus,
       LATERAL (SELECT unnest(generate_series(1, length(text) - {_SUB_L} + 1)) AS p) p
  WHERE length(text) >= {_SUB_L}
),
dup_grams AS (
  SELECT gram FROM spans GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
)
SELECT s.source,
       CAST(count(*) AS BIGINT) AS n_dup_spans,
       CAST(count(DISTINCT s.gram) AS BIGINT) AS n_dup_grams,
       CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs_hit
FROM spans s JOIN dup_grams d USING (gram)
GROUP BY s.source
ORDER BY s.source
"""


@register(
    "dedup_exact_substring",
    oracle=_SUBSTRING_ORACLE,
    tags=("llm", "dedup", "text"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): find every 40-char substring
    that appears in >= 2 distinct documents — the character-level
    counterpart of doc-level MinHash, catching boilerplate, licenses,
    and re-posted excerpts that whole-doc similarity misses. Planted
    reposts (a 120-char excerpt of every 20th doc) guarantee known
    recall. The paper builds a suffix array; the Spark-first
    re-expression explodes each doc into its stride-1 rolling windows,
    keys each window by xxhash64 MAP-SIDE, and finds duplicated windows
    with ONE gram-keyed exchange (min(doc) < max(doc) dup flag) — the
    same O(total_chars) work as the suffix-array scan, shuffled on
    8-byte longs.

    MEASURED r10 A/B at sf0.1 -> 10x (best-of-2, local[32]):
    md5-keyed grams (r9)            1.34s -> 4.47s (3.3x)
    winnowing preselect k=30,w=11   1.70s -> 5.50s (3.2x)
    xx64-keyed grams (this code)    0.96s -> 2.95s (3.1x)
    preselect + xx64                1.59s -> 4.45s (2.8x)
    The winnowing candidate preselect (Schleimer et al. 2003: k=30,
    w=11 anchors guarantee every 40-char match shares an anchor, so a
    preselect is lossless) was implemented and benchmarked, and LOSES
    locally: its anchor kernel must also hash every position, so it
    adds ~70% compute to save shuffle bytes — a trade that only pays
    when shuffle is network-bound. On local[32] every variant's 10x
    ratio converges to ~3x because the operator is INPUT-BOUND: exact
    substring dedup must touch every char (so must the paper's suffix
    array), and 10x input on a fixed 32-thread pool costs ~3x wall
    once per-task fixed costs amortize — that IS the sub-linear
    scaling, not a plan defect. At cluster scale the two dials are
    (a) the preselect above (2.7x fewer shuffle bytes, code preserved
    in git history / doc_winnowing_fingerprint is the sibling
    operator), and (b) widening the gram key to 128 bits (pair of
    seeded xxhash64 calls) when the corpus approaches birthday range
    for 64-bit keys (~2^32 grams); at fixture scales the 64-bit key is
    collision-free (counts verified identical to the md5 run)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    planted = (
        docs.filter(F.col("doc_id") % _SUB_PLANT_MOD == 0)
        .select(
            (F.col("doc_id") + F.lit(_SUB_PLANT_OFFSET)).alias("doc_id"),
            F.lit("repost").alias("source"),
            F.substring("text", 11, 120).alias("text"),
        )
    )
    # spread the 40x explode across all cores: the corpus arrives in a
    # handful of parquet splits and the blowup happens AFTER the scan, so
    # without this the explode runs on 2 tasks (r9: 3.3s -> 2.3s).
    n_parts = max(8, spark.sparkContext.defaultParallelism)
    corpus = docs.unionByName(planted).repartition(n_parts, "doc_id")
    spans = (
        corpus.filter(F.length("text") >= _SUB_L)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - (_SUB_L - 1)),
                    lambda p: F.xxhash64(F.col("text").substr(p, F.lit(_SUB_L))),
                )
            ).alias("gram"),
        )
    )
    # ONE exchange on gram instead of groupBy + join-back (which computed
    # the 40x explode twice): a gram is duplicated iff min(doc) < max(doc)
    # over its partition — exact "N distinct >= 2" without countDistinct —
    # and the dup flag rides the same gram-keyed window (r9 perf fix:
    # 7.6s -> ~3s base wall, halves the shuffled bytes).
    from pyspark.sql import Window as W

    wg = W.partitionBy("gram")
    flagged = spans.select(
        "source",
        "doc_id",
        "gram",
        (F.min("doc_id").over(wg) < F.max("doc_id").over(wg)).alias("dup"),
    )
    return (
        flagged.filter("dup")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.countDistinct("gram").cast("long").alias("n_dup_grams"),
            F.countDistinct("doc_id").cast("long").alias("n_docs_hit"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Corpus BLEU (clipped modified n-gram precision + brevity penalty)
# --------------------------------------------------------------------------

_BLEU_UNK_STRIDE = 7

_BLEU_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ref_toks FROM documents
),
pair AS (
  SELECT doc_id, ref_toks,
         list_transform(list_zip(ref_toks, range(1, len(ref_toks) + 1)),
                        z -> CASE WHEN z[2] % {_BLEU_UNK_STRIDE} = 0
                                  THEN 'UNK' ELSE z[1] END) AS cand_toks
  FROM toks
),
grams AS (
  SELECT doc_id, n.n,
         list_transform(range(1, len(cand_toks) - n.n + 2),
                        i -> list_aggregate(list_slice(cand_toks, i, i + n.n - 1),
                                            'string_agg', ' ')) AS cand_g,
         list_transform(range(1, len(ref_toks) - n.n + 2),
                        i -> list_aggregate(list_slice(ref_toks, i, i + n.n - 1),
                                            'string_agg', ' ')) AS ref_g
  FROM pair, (SELECT unnest([1, 2, 3, 4]) AS n) n
),
cand_counts AS (
  SELECT doc_id, n, g, count(*) AS c
  FROM (SELECT doc_id, n, unnest(cand_g) AS g FROM grams)
  GROUP BY ALL
),
ref_counts AS (
  SELECT doc_id, n, g, count(*) AS r
  FROM (SELECT doc_id, n, unnest(ref_g) AS g FROM grams)
  GROUP BY ALL
),
clipped AS (
  SELECT c.n,
         CAST(sum(least(c.c, coalesce(r.r, 0))) AS BIGINT) AS num,
         CAST(sum(c.c) AS BIGINT) AS den
  FROM cand_counts c LEFT JOIN ref_counts r USING (doc_id, n, g)
  GROUP BY c.n
),
lens AS (
  SELECT CAST(sum(len(cand_toks)) AS BIGINT) AS cand_len,
         CAST(sum(len(ref_toks)) AS BIGINT) AS ref_len
  FROM pair
)
SELECT n, num, den,
       round(CAST(num AS DOUBLE) / den, 6) AS p_n,
       cand_len, ref_len
FROM clipped, lens
ORDER BY n
"""


@register("ml_bleu_ngram_precision", oracle=_BLEU_ORACLE, tags=("llm", "ml", "text"))
def ml_bleu_ngram_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU's core: CLIPPED modified n-gram precision for
    n=1..4 plus the corpus length totals the brevity penalty needs —
    the generation-eval metric every MT/summarization pipeline
    computes at fleet scale. Candidates derive deterministically from
    references (every 7th token masked to UNK) so both engines score
    the identical pair set. Clipping is the subtle part: a candidate
    n-gram only scores up to its count in THE SAME doc's reference
    (sum of least(c, r)), which is exactly one left join on
    (doc, n, gram) between two count tables — no cross-doc work, no
    gram table ever leaves its doc key. Grams are keyed by their
    xxhash64, not their text, so the counts are exact up to hash
    collisions within a doc. 100 TB shape: counts are
    map-side-combinable groupBys keyed by (doc, n, gram); the join
    key contains doc_id so Spark co-partitions both sides in one
    exchange each; numerators/denominators are exact BIGINTs (the
    only double is the final ratio)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ref_toks"))
    pair = toks.withColumn(
        "cand_toks",
        F.transform(
            "ref_toks",
            lambda t, i: F.when((i + 1) % _BLEU_UNK_STRIDE == 0, F.lit("UNK")).otherwise(t),
        ),
    ).transform(registry.track_persist)

    def gram_counts(col: str, cname: str) -> DataFrame:
        g = pair.select(
            "doc_id",
            F.explode(F.array(*[F.lit(n) for n in (1, 2, 3, 4)])).alias("n"),
            F.col(col).alias("t"),
        ).select(
            "doc_id",
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - F.col("n") + 1),
                    lambda i: F.concat_ws(" ", F.slice("t", i, F.col("n"))),
                )
            ).alias("g0"),
        )
        # r14 (guide §2.3): the gram string is internal — only clipped
        # counts surface — so collapse it to a long right after the
        # explode; the (doc, n, gram) aggregations and the cand-ref join
        # then key on 8 bytes instead of up-to-4-word strings. Hashing
        # must sit OUTSIDE the transform lambda (HOF lambdas evaluate
        # interpreted; inside the lambda this measured 2.5x slower on
        # the jaccard twin). In-session A/B: 3.63s -> 3.41s best-of-3
        # locally; the byte shrink is the at-scale motivation.
        g = g.select("doc_id", "n", F.xxhash64("g0").alias("g"))
        return g.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias(cname))

    cand = gram_counts("cand_toks", "c")
    ref = gram_counts("ref_toks", "r")
    clipped = (
        cand.join(ref, ["doc_id", "n", "g"], "left")
        .groupBy("n")
        .agg(
            F.sum(F.least(F.col("c"), F.coalesce(F.col("r"), F.lit(0))))
            .cast("long")
            .alias("num"),
            F.sum("c").cast("long").alias("den"),
        )
    )
    lens = pair.agg(
        F.sum(F.size("cand_toks")).cast("long").alias("cand_len"),
        F.sum(F.size("ref_toks")).cast("long").alias("ref_len"),
    )
    return (
        clipped.crossJoin(F.broadcast(lens))
        .select(
            "n",
            "num",
            "den",
            F.round(F.col("num").cast("double") / F.col("den"), 6).alias("p_n"),
            "cand_len",
            "ref_len",
        )
        .orderBy("n")
    )


# --------------------------------------------------------------------------
# b-bit minwise hashing (compressed MinHash signatures)
# --------------------------------------------------------------------------

_BB_PERMS = 30  # 30 perms x 2 bits = 60 bits: stays clear of the int64 sign bit in BOTH engines
_BB_BITS = 2
_BB_MERSENNE = (1 << 31) - 1
# deterministic odd multipliers / offsets (interpolated into the oracle)
_BB_A = [(2_654_435_761 * (p + 1)) % _BB_MERSENNE | 1 for p in range(_BB_PERMS)]
_BB_B = [(2_246_822_519 * (p + 7)) % _BB_MERSENNE for p in range(_BB_PERMS)]
_BB_PLANT_MOD = 20
_BB_PLANT_OFFSET = 4_000_000_000
_BB_MUT_STRIDE = 11

_BB_MIN_EXPRS = ",\n         ".join(
    f"min(({a} * (h % {_BB_MERSENNE}) + {b}) % {_BB_MERSENNE}) AS mh{p}"
    for p, (a, b) in enumerate(zip(_BB_A, _BB_B))
)
_BB_PACK = " + ".join(
    f"((mh{p} & {(1 << _BB_BITS) - 1}) << {p * _BB_BITS})" for p in range(_BB_PERMS)
)
_BB_COLL = " + ".join(
    f"CASE WHEN ((x >> {p * _BB_BITS}) & {(1 << _BB_BITS) - 1}) = 0 THEN 1 ELSE 0 END"
    for p in range(_BB_PERMS)
)

_BBIT_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
mutated AS (
  SELECT doc_id + {_BB_PLANT_OFFSET} AS doc_id,
         list_transform(list_zip(ws, range(1, len(ws) + 1)),
                        z -> CASE WHEN z[2] % {_BB_MUT_STRIDE} = 0
                                  THEN 'X' ELSE z[1] END) AS ws
  FROM base WHERE doc_id % {_BB_PLANT_MOD} = 0
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM mutated),
tg AS (
  SELECT DISTINCT doc_id,
         ('0x' || substring(md5(array_to_string(list_slice(ws, i.g, i.g + 2), ' ')), 1, 15))::BIGINT AS h
  FROM corpus, LATERAL (SELECT unnest(range(1, greatest(len(ws) - 1, 2))) AS g) i
),
sig AS (
  SELECT doc_id,
         {_BB_MIN_EXPRS}
  FROM tg GROUP BY doc_id
),
packed AS (
  SELECT doc_id, {_BB_PACK} AS sig64 FROM sig
),
pairs AS (
  SELECT a.doc_id, xor(a.sig64, b.sig64) AS x
  FROM packed a JOIN packed b ON b.doc_id = a.doc_id + {_BB_PLANT_OFFSET}
),
coll AS (
  SELECT doc_id, CAST({_BB_COLL} AS BIGINT) AS n_coll FROM pairs
),
exact AS (
  SELECT a.doc_id, count(*) FILTER (WHERE b.h IS NOT NULL) AS ns,
         count(*) + (SELECT count(*) FROM tg t2
                     WHERE t2.doc_id = a.doc_id + {_BB_PLANT_OFFSET}) AS tot
  FROM tg a LEFT JOIN tg b
    ON b.doc_id = a.doc_id + {_BB_PLANT_OFFSET} AND b.h = a.h
  WHERE a.doc_id < {_BB_PLANT_OFFSET} AND a.doc_id % {_BB_PLANT_MOD} = 0
  GROUP BY a.doc_id
)
SELECT c.doc_id, c.n_coll,
       round(greatest((CAST(c.n_coll AS DOUBLE) / {_BB_PERMS} - 0.25) / 0.75, 0.0), 4)
         AS jaccard_bbit,
       round(CAST(e.ns AS DOUBLE) / (e.tot - e.ns), 4) AS jaccard_exact
FROM coll c JOIN exact e USING (doc_id)
ORDER BY doc_id
"""


@register("dedup_minhash_b_bit", oracle=_BBIT_ORACLE, tags=("llm", "dedup", "approx", "sketch"))
def dedup_minhash_b_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (Li & Konig 2010): keep only the lowest
    b=2 bits of each of 30 MinHash permutations, packing a whole
    signature into ONE int64 — 8 bytes per document where classic
    16x64-bit MinHash ships 128 (and 16 perms of 60-bit values ~96), the storage/bandwidth compression
    that makes fleet-wide near-dup estimation affordable at 100 TB
    (the sketch table for a trillion docs fits a broadcast tier).
    Collision rate over the 30 two-bit lanes estimates Jaccard via the
    paper's small-signature limit J = (rate - 2^-b) / (1 - 2^-b);
    planted mutated copies (every 11th word -> 'X') give each estimate
    an exact-Jaccard twin so the estimator's bias is measurable
    per-pair. Plan: signatures are ONE map-side-combinable groupBy
    (30 min aggregates) on the shingle shuffle; packing is bit
    arithmetic; the planted-pair join is a key self-join; the XOR +
    lane-popcount comparison is pure map-side integer work — the
    same kernel a production dedup runs pairwise inside LSH buckets."""
    from us_stock_data_pipeline_spark.queries.llm_ops import exploded_shingle_hashes

    docs = load_table(spark, sf_dir, "documents")
    mutated = docs.filter(F.col("doc_id") % _BB_PLANT_MOD == 0).select(
        (F.col("doc_id") + F.lit(_BB_PLANT_OFFSET)).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.split("text", " "),
                lambda t, i: F.when((i + 1) % _BB_MUT_STRIDE == 0, F.lit("X")).otherwise(t),
            ),
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = docs.unionByName(mutated.select(*docs.columns))
    tg = exploded_shingle_hashes(corpus)
    mins = [
        F.min(
            (F.lit(a) * F.pmod(F.col("h"), F.lit(_BB_MERSENNE)) + F.lit(b))
            % F.lit(_BB_MERSENNE)
        ).alias(f"mh{p}")
        for p, (a, b) in enumerate(zip(_BB_A, _BB_B))
    ]
    sig = tg.groupBy("doc_id").agg(*mins)
    pack = None
    for p in range(_BB_PERMS):
        lane = F.shiftleft(
            F.col(f"mh{p}").bitwiseAND(F.lit((1 << _BB_BITS) - 1)), p * _BB_BITS
        )
        pack = lane if pack is None else pack + lane
    packed = sig.select("doc_id", pack.alias("sig64"))
    orig = packed.filter(F.col("doc_id") < _BB_PLANT_OFFSET).alias("a")
    plant = packed.alias("b")
    x = F.col("a.sig64").bitwiseXOR(F.col("b.sig64"))
    n_coll = None
    for p in range(_BB_PERMS):
        lane_ok = F.when(
            F.shiftright(x, p * _BB_BITS).bitwiseAND(F.lit((1 << _BB_BITS) - 1)) == 0, 1
        ).otherwise(0)
        n_coll = lane_ok if n_coll is None else n_coll + lane_ok
    pairs = orig.join(
        plant, F.col("b.doc_id") == F.col("a.doc_id") + _BB_PLANT_OFFSET
    ).select(F.col("a.doc_id").alias("doc_id"), n_coll.cast("long").alias("n_coll"))
    # exact Jaccard on the shingle sets of each planted pair
    ta = tg.filter(
        (F.col("doc_id") < _BB_PLANT_OFFSET) & (F.col("doc_id") % _BB_PLANT_MOD == 0)
    ).alias("ta")
    tb = tg.filter(F.col("doc_id") >= _BB_PLANT_OFFSET).select(
        (F.col("doc_id") - F.lit(_BB_PLANT_OFFSET)).alias("doc_id"), F.col("h").alias("hb")
    ).alias("tb")
    exact = (
        ta.join(tb, (F.col("ta.doc_id") == F.col("tb.doc_id")) & (F.col("ta.h") == F.col("hb")), "left")
        .groupBy(F.col("ta.doc_id").alias("doc_id"))
        .agg(F.count("hb").alias("ns"), F.count(F.lit(1)).alias("na"))
        .join(
            tg.filter(F.col("doc_id") >= _BB_PLANT_OFFSET)
            .groupBy((F.col("doc_id") - F.lit(_BB_PLANT_OFFSET)).alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("nb")),
            "doc_id",
        )
    )
    rate = F.col("n_coll").cast("double") / _BB_PERMS
    return (
        pairs.join(exact, "doc_id")
        .select(
            "doc_id",
            "n_coll",
            F.round(F.greatest((rate - 0.25) / 0.75, F.lit(0.0)), 4).alias("jaccard_bbit"),
            F.round(
                F.col("ns").cast("double") / (F.col("na") + F.col("nb") - F.col("ns")), 4
            ).alias("jaccard_exact"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# DPO implicit reward margins over preference pairs
# --------------------------------------------------------------------------

_DPO_BETA_MILLI = 100  # beta = 0.1, carried as exact milli-units

_DPO_ORACLE = f"""
WITH scored AS (
  SELECT user_id, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
lp AS (
  -- deterministic stand-in log-probs in exact MILLI-nats: policy and
  -- reference disagree through different odd multipliers, so margins
  -- are nonzero integers both engines compute identically
  SELECT *,
         -((cents * 2654435761) % 4000) - 1000 AS lp_pol_milli,
         -((cents * 2246822519) % 4000) - 1000 AS lp_ref_milli
  FROM scored
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cents DESC, event_id DESC) AS rn_top,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cents ASC, event_id ASC) AS rn_bot,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM lp
),
pairs AS (
  SELECT w.user_id, w.event_type AS chosen_type,
         (w.lp_pol_milli - w.lp_ref_milli)
           - (l.lp_pol_milli - l.lp_ref_milli) AS margin_milli
  FROM (SELECT * FROM ranked WHERE rn_top = 1 AND n >= 2) w
  JOIN (SELECT * FROM ranked WHERE rn_bot = 1) l USING (user_id)
)
SELECT chosen_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(CASE WHEN margin_milli > 0 THEN 1.0 ELSE 0.0 END), 4)
         AS dpo_accuracy,
       round(CAST(sum(margin_milli) AS BIGINT) * {_DPO_BETA_MILLI}
             / 1000.0 / 1000.0 / count(*), 4) AS mean_implicit_reward_margin
FROM pairs
GROUP BY chosen_type
ORDER BY chosen_type
"""


@register("rlhf_dpo_implicit_reward", oracle=_DPO_ORACLE, tags=("llm", "rlhf", "window"))
def rlhf_dpo_implicit_reward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO's training-time readout: the implicit reward margin
    beta * [(logpi(yw) - logref(yw)) - (logpi(yl) - logref(yl))] per
    preference pair, and the preference accuracy (fraction of pairs
    the policy already orders correctly) — the two curves every DPO
    run monitors (Rafailov et al. 2023). Pairs derive from events
    (per-user best/worst by value with deterministic tiebreaks —
    `rlhf_preference_pairs`'s construction); log-probs are
    deterministic integer-milli-nat stand-ins (real ones arrive as a
    logprob column from the inference fleet; the DATAFLOW — pair
    windows, margin arithmetic, cohort rollup — is what the engine
    owns, and it is identical for real columns). Exact-int margins
    make the accuracy flag and the sums engine-exact; the only
    doubles are the final averaged readouts. Plan: both extreme-row
    picks share ONE user-keyed window shuffle; the pair join is a
    key join on user_id; the rollup is map-side-combinable."""
    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    lp = scored.select(
        "*",
        (-((F.col("cents") * 2654435761) % 4000) - 1000).alias("lp_pol_milli"),
        (-((F.col("cents") * 2246822519) % 4000) - 1000).alias("lp_ref_milli"),
    )
    w_user = Window.partitionBy("user_id")
    ranked = lp.select(
        "*",
        F.row_number()
        .over(w_user.orderBy(F.col("cents").desc(), F.col("event_id").desc()))
        .alias("rn_top"),
        F.row_number()
        .over(w_user.orderBy(F.col("cents").asc(), F.col("event_id").asc()))
        .alias("rn_bot"),
        F.count(F.lit(1)).over(w_user).alias("n"),
    )
    winners = ranked.filter((F.col("rn_top") == 1) & (F.col("n") >= 2)).select(
        "user_id",
        F.col("event_type").alias("chosen_type"),
        (F.col("lp_pol_milli") - F.col("lp_ref_milli")).alias("dw"),
    )
    losers = ranked.filter(F.col("rn_bot") == 1).select(
        "user_id", (F.col("lp_pol_milli") - F.col("lp_ref_milli")).alias("dl")
    )
    pairs = winners.join(losers, "user_id").select(
        "chosen_type", (F.col("dw") - F.col("dl")).alias("margin_milli")
    )
    return (
        pairs.groupBy("chosen_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.avg(F.when(F.col("margin_milli") > 0, 1.0).otherwise(0.0)), 4
            ).alias("dpo_accuracy"),
            F.round(
                F.sum("margin_milli").cast("long")
                * _DPO_BETA_MILLI
                / 1000.0
                / 1000.0
                / F.count(F.lit(1)),
                4,
            ).alias("mean_implicit_reward_margin"),
        )
        .orderBy("chosen_type")
    )


# --------------------------------------------------------------------------
# GDPR crypto-shredding audit (real AES round-trip)
# --------------------------------------------------------------------------

_SHRED_MOD = 13  # users with user_id % 13 == 0 exercised their erasure right

_SHRED_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN user_id % {_SHRED_MOD} = 0 THEN 0 ELSE 1 END)
            AS BIGINT) AS n_readable,
       CAST(sum(CASE WHEN user_id % {_SHRED_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_shredded,
       CAST(count(DISTINCT CASE WHEN user_id % {_SHRED_MOD} = 0
                                THEN user_id END) AS BIGINT) AS n_erased_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "compliance_crypto_shredding",
    oracle=_SHRED_ORACLE,
    tags=("etl", "compliance", "security"),
)
def compliance_crypto_shredding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR right-to-be-forgotten via CRYPTO-SHREDDING, the only
    erasure that scales: personal payloads are AES-encrypted with a
    PER-USER key held in a small key table; "forgetting" a user
    deletes ONE key row, never touching the 100 TB fact store —
    immutable parquet/versioned snapshots stay bit-identical, yet the
    user's payloads are unrecoverable. This audit proves both
    directions with a REAL AES-GCM round-trip (Spark's built-in
    aes_encrypt / try_aes_decrypt): every event's payload is
    encrypted under its user's key, the key table then drops erased
    users (user_id % 13 = 0), and the audit left-joins facts to
    surviving keys — try_aes_decrypt yields the original payload
    where a key survives (verified by comparison, counted as
    readable) and NULL where it was shredded. The oracle recomputes
    the readable/shredded census from erasure-set membership, so a
    broken key join, a wrong-key decrypt, or a corrupted ciphertext
    all break the hash. Plan: key table is |users| rows (broadcast
    tier); encrypt/decrypt are map-side codegen expressions; one
    groupBy rollup."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.coalesce("props", F.lit("{}")).alias("payload")
    )
    # per-user 16-byte AES key (first 16 hex chars of a salted md5)
    all_keys = ev.select("user_id").dropDuplicates().select(
        "user_id",
        F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":k7"))), 1, 16).alias("key"),
    )
    encrypted = ev.join(F.broadcast(all_keys), "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        "payload",
        F.expr("aes_encrypt(payload, key, 'GCM')").alias("ciphertext"),
    )
    surviving = all_keys.filter(F.col("user_id") % _SHRED_MOD != 0)
    audited = encrypted.join(F.broadcast(surviving), "user_id", "left").select(
        "event_type",
        "user_id",
        F.expr("CAST(try_aes_decrypt(ciphertext, key, 'GCM') AS STRING)").alias("decrypted"),
        "payload",
    )
    return (
        audited.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("decrypted") == F.col("payload"), 1).otherwise(0))
            .cast("long")
            .alias("n_readable"),
            F.sum(F.when(F.col("decrypted").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_shredded"),
            F.countDistinct(
                F.when(F.col("decrypted").isNull(), F.col("user_id"))
            )
            .cast("long")
            .alias("n_erased_users"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Binary-sign Hamming ANN (1-bit quantized retrieval)
# --------------------------------------------------------------------------

_HAM_K = 5
_HAM_QUERIES = 8  # vec_id 0..7 are the probe set

_HAMMING_ORACLE = f"""
WITH sig AS (
  -- two 32-bit halves: bit63 left-shifts overflow BOTH engines' signed
  -- 64-bit ints, so the 64 sign bits pack as (lo: dims 1-32, hi: 33-64)
  SELECT vec_id,
         CAST(list_sum(list_transform(range(1, 33),
             i -> CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0
                       THEN 1::BIGINT << (i - 1) ELSE 0 END)) AS BIGINT) AS lo,
         CAST(list_sum(list_transform(range(33, 65),
             i -> CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0
                       THEN 1::BIGINT << (i - 33) ELSE 0 END)) AS BIGINT) AS hi
  FROM embeddings
),
q AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM sig WHERE vec_id < {_HAM_QUERIES}),
scored AS (
  SELECT q.qid, s.vec_id,
         bit_count(xor(q.qlo, s.lo)) + bit_count(xor(q.qhi, s.hi)) AS hamming
  FROM q JOIN sig s ON s.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, hamming,
         row_number() OVER (PARTITION BY qid ORDER BY hamming, vec_id) AS rn
  FROM scored
)
SELECT qid, vec_id, CAST(hamming AS BIGINT) AS hamming, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {_HAM_K}
ORDER BY qid, rank
"""


@register("ann_hamming_binary", oracle=_HAMMING_ORACLE, tags=("llm", "ann", "embedding"))
def ann_hamming_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-BIT quantized retrieval: binarize each 64-dim embedding to its
    sign bits packed in two 32-bit halves (bit63 shifts overflow signed
    int64 in both engines), then retrieve top-k neighbors by
    Hamming distance (bit_count of XOR) — the coarsest, fastest rung
    of the quantization ladder (below int8 and PQ), and the standard
    first-pass filter in binary-embedding retrieval (sign random
    projections make cos similarity ~ 1 - hamming*pi/64). 32x smaller
    than float32 vectors: at 100 TB the whole corpus index is 8 bytes/vec
    that scan at memory bandwidth with ONE popcount instruction per
    candidate — this plan broadcasts the probe signatures and streams
    the corpus map-side, shuffling only (qid, k) survivors for the
    per-query top-k window (same corpus-never-shuffles shape as
    knn_bruteforce_cosine). Exact-oracle-checked: both engines pack
    identical bits, so ranks match bit-for-bit with a (distance,
    vec_id) tiebreak."""
    emb = load_table(spark, sf_dir, "embeddings")

    def half(lo_dim: int) -> F.Column:
        # unrolled 32-term sum: each bit weight is a plain literal, so
        # the whole pack stays one codegen expression
        terms = [
            F.when(
                F.element_at("embedding", lo_dim + i).cast("double") >= 0,
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(32)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    sig = emb.select("vec_id", half(1).alias("lo"), half(33).alias("hi"))
    q = sig.filter(F.col("vec_id") < _HAM_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("lo").alias("qlo"), F.col("hi").alias("qhi")
    )
    scored = (
        sig.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
                + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
            )
            .cast("long")
            .alias("hamming"),
        )
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("hamming"), F.col("vec_id"))
    )
    return (
        scored.withColumn("rank", rn.cast("long"))
        .filter(F.col("rank") <= _HAM_K)
        .orderBy("qid", "rank")
    )


# --------------------------------------------------------------------------
# A/B sample-ratio-mismatch (SRM) guardrail
# --------------------------------------------------------------------------

_SRM_ORACLE = """
WITH assigned AS (
  -- deterministic 50/50 assignment by user-id hash (the production
  -- bucketing function), exposure = first event per user
  SELECT DISTINCT user_id,
         CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
              THEN 'control' ELSE 'treatment' END AS arm
  FROM events
),
counts AS (
  SELECT count(*) FILTER (WHERE arm = 'control') AS n_c,
         count(*) FILTER (WHERE arm = 'treatment') AS n_t
  FROM assigned
)
SELECT CAST(n_c AS BIGINT) AS n_control,
       CAST(n_t AS BIGINT) AS n_treatment,
       round(CAST((n_c - n_t) * (n_c - n_t) AS DOUBLE) / (n_c + n_t), 4)
         AS chi2_stat,
       CAST((n_c - n_t) * (n_c - n_t) AS DOUBLE) / (n_c + n_t) > 3.841 AS srm_flag
FROM counts
"""


@register("events_ab_srm_check", oracle=_SRM_ORACLE, tags=("analytics", "experimentation"))
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch — the experimentation guardrail that runs
    BEFORE any lift metric is believed: with a 50/50 split, the
    observed arm counts must fit chi-square(1); chi2 = (n_c - n_t)^2 /
    (n_c + n_t) for equal expected halves, flagged at the 0.05
    critical value 3.841. An SRM fire means the assignment, logging,
    or filtering pipeline is biased and every downstream readout is
    invalid (the single most common silent A/B failure). Assignment
    replays the production scheme — a deterministic hash of user_id —
    so both engines bucket identically; exposure dedup is one DISTINCT
    on (user, arm). Plan: one hash-dedup shuffle, one global count —
    at 100 TB the DISTINCT's map-side combine makes the shuffle
    |users|-bounded, and the chi-square is driver-free arithmetic on
    two BIGINTs."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.select(
        "user_id",
        F.when(
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            % 2
            == 0,
            "control",
        )
        .otherwise("treatment")
        .alias("arm"),
    ).dropDuplicates(["user_id"])
    counts = assigned.agg(
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0)).cast("long").alias("n_t"),
    )
    diff2 = (F.col("n_c") - F.col("n_t")) * (F.col("n_c") - F.col("n_t"))
    chi2 = diff2.cast("double") / (F.col("n_c") + F.col("n_t"))
    return counts.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round(chi2, 4).alias("chi2_stat"),
        (chi2 > 3.841).alias("srm_flag"),
    )


# --------------------------------------------------------------------------
# Gopher-style corpus quality rule battery
# --------------------------------------------------------------------------

_GOPHER_ORACLE = """
WITH rules AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_words,
         CAST(list_sum(list_transform(string_split(text, ' '),
              w -> length(w))) AS BIGINT) AS sum_wlen,
         CAST(list_sum(list_transform(string_split(text, ' '), w -> CASE WHEN w IN
             ('the','be','to','of','and','that','have','with') THEN 1 ELSE 0 END))
             AS BIGINT) AS n_stop,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
         CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT)
           AS n_ellipsis
  FROM documents
),
flags AS (
  SELECT source,
         n_words BETWEEN 50 AND 100000 AS ok_word_count,
         CAST(sum_wlen AS DOUBLE) / n_words BETWEEN 3 AND 10 AS ok_mean_wlen,
         n_stop >= 2 AS ok_stopwords,
         CAST(n_hash AS DOUBLE) / n_words <= 0.1 AS ok_symbol_ratio,
         CAST(n_ellipsis AS DOUBLE) / n_words <= 0.3 AS ok_ellipsis
  FROM rules
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ok_word_count THEN 1 ELSE 0 END) AS BIGINT) AS pass_word_count,
       CAST(sum(CASE WHEN ok_mean_wlen THEN 1 ELSE 0 END) AS BIGINT) AS pass_mean_wlen,
       CAST(sum(CASE WHEN ok_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopwords,
       CAST(sum(CASE WHEN ok_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS pass_symbol_ratio,
       CAST(sum(CASE WHEN ok_ellipsis THEN 1 ELSE 0 END) AS BIGINT) AS pass_ellipsis,
       CAST(sum(CASE WHEN ok_word_count AND ok_mean_wlen AND ok_stopwords
                      AND ok_symbol_ratio AND ok_ellipsis THEN 1 ELSE 0 END)
            AS BIGINT) AS pass_all
FROM flags
GROUP BY source
ORDER BY source
"""


@register("text_gopher_quality_rules", oracle=_GOPHER_ORACLE, tags=("llm", "text", "quality"))
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText rule battery (Rae et al. 2021, the rule
    set C4/FineWeb descend from): word-count bounds, mean-word-length
    band [3, 10], required stopword presence, symbol-to-word ratio cap
    (# as the symbol proxy), ellipsis-line cap — each documented as a
    SEPARATE pass count per source plus the conjunction, because the
    marginal yield of each rule (not just the final keep rate) is what
    a curation run tunes. Every feature is one map-side pass over the
    text (split + HOF folds, no UDF); the rollup is one small groupBy.
    At 100 TB this is the cheapest stage of the curation funnel and
    runs FIRST, ahead of dedup and model scoring
    (`pipeline_corpus_curation` sequences the stages)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_words = F.size(ws)
    sum_wlen = F.aggregate(
        F.transform(ws, lambda w: F.length(w)), F.lit(0).cast("long"), lambda a, v: a + v
    )
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")
    n_stop = F.aggregate(
        F.transform(ws, lambda w: F.when(w.isin(*stops), 1).otherwise(0)),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    n_hash = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    n_ellipsis = (
        F.length("text") - F.length(F.regexp_replace("text", r"\.\.\.", ""))
    ) / 3
    feat = docs.select(
        "source",
        n_words.alias("n_words"),
        sum_wlen.alias("sum_wlen"),
        n_stop.alias("n_stop"),
        n_hash.cast("long").alias("n_hash"),
        n_ellipsis.cast("long").alias("n_ellipsis"),
    )
    okc = F.col("n_words").between(50, 100000)
    okw = (F.col("sum_wlen").cast("double") / F.col("n_words")).between(3, 10)
    oks = F.col("n_stop") >= 2
    okr = F.col("n_hash").cast("double") / F.col("n_words") <= 0.1
    oke = F.col("n_ellipsis").cast("double") / F.col("n_words") <= 0.3
    cnt = lambda c, n: F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(n)  # noqa: E731
    return (
        feat.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            cnt(okc, "pass_word_count"),
            cnt(okw, "pass_mean_wlen"),
            cnt(oks, "pass_stopwords"),
            cnt(okr, "pass_symbol_ratio"),
            cnt(oke, "pass_ellipsis"),
            cnt(okc & okw & oks & okr & oke, "pass_all"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# PSI feature-drift monitor
# --------------------------------------------------------------------------

_PSI_ORACLE = """
WITH windows AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END AS win,
         least(greatest(CAST(floor(value / 100.0) AS BIGINT), 0), 9) AS bucket
  FROM events
),
counts AS (
  SELECT event_type, bucket,
         count(*) FILTER (WHERE win = 'ref') AS n_ref,
         count(*) FILTER (WHERE win = 'cur') AS n_cur
  FROM windows GROUP BY event_type, bucket
),
tot AS (
  SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
  FROM counts GROUP BY event_type
),
terms AS (
  -- Laplace +1 on counts so empty buckets stay finite; each bucket term
  -- quantized to exact micro-nats BEFORE summation (cross-engine ulp armor)
  SELECT c.event_type,
         CAST(round(
           (CAST(c.n_cur + 1 AS DOUBLE) / (t.t_cur + 10)
            - CAST(c.n_ref + 1 AS DOUBLE) / (t.t_ref + 10))
           * ln((CAST(c.n_cur + 1 AS DOUBLE) / (t.t_cur + 10))
                / (CAST(c.n_ref + 1 AS DOUBLE) / (t.t_ref + 10)))
           * 1000000) AS BIGINT) AS q
  FROM counts c JOIN tot t USING (event_type)
)
SELECT event_type,
       CAST(sum(q) AS BIGINT) AS psi_micro,
       round(CAST(sum(q) AS BIGINT) / 1000000.0, 4) AS psi,
       CAST(sum(q) AS BIGINT) >= 200000 AS drift_flag
FROM terms
GROUP BY event_type
ORDER BY event_type
"""


@register("ml_psi_feature_drift", oracle=_PSI_ORACLE, tags=("ml", "monitoring", "drift"))
def ml_psi_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — THE production feature-drift
    monitor (credit-risk heritage, now standard MLOps): bucket a
    feature identically in a reference window and the current window,
    then PSI = sum over buckets of (p_cur - p_ref) * ln(p_cur/p_ref);
    0.1/0.2 are the industry watch/act thresholds (flagged here at
    0.2). Laplace-smoothed so newly-empty buckets stay finite. Each
    bucket's term quantizes to exact integer micro-nats BEFORE the
    per-feature summation, so the flag decision is engine-exact (the
    same milli/micro-nat armor as the DSIR and naive-Bayes scorers).
    Plan: one scan, one (feature, bucket, window) map-side-combinable
    count, one tiny per-feature rollup — at 100 TB the shuffle is
    |features x buckets| rows, independent of event volume."""
    ev = load_table(spark, sf_dir, "events")
    win = F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "ref").otherwise("cur")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 100.0).cast("long"), F.lit(0)), F.lit(9)
    )
    counts = (
        ev.select("event_type", win.alias("win"), bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.when(F.col("win") == "ref", 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("win") == "cur", 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + 10)
    p_ref = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + 10)
    q = F.round((p_cur - p_ref) * F.log(p_cur / p_ref) * 1000000).cast("long")
    return (
        counts.join(F.broadcast(tot), "event_type")
        .select("event_type", q.alias("q"))
        .groupBy("event_type")
        .agg(F.sum("q").cast("long").alias("psi_micro"))
        .select(
            "event_type",
            "psi_micro",
            F.round(F.col("psi_micro") / 1000000.0, 4).alias("psi"),
            (F.col("psi_micro") >= 200000).alias("drift_flag"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Bitemporal as-of (valid time x transaction time)
# --------------------------------------------------------------------------

_BITEMPORAL_ORACLE = """
WITH ledger AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS valid_date,
         CAST(o_orderdate AS DATE) AS recorded_at,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE),
         CAST(o_orderdate AS DATE) + 10,
         CAST(round(o_totalprice * 110) AS BIGINT)
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE),
         CAST(o_orderdate AS DATE) + 20,
         CAST(round(o_totalprice * 120) AS BIGINT)
  FROM orders WHERE o_orderkey % 21 = 0
),
knowledge AS (
  SELECT unnest([DATE '1996-01-05', DATE '1998-01-05']) AS know_at
),
effective AS (
  SELECT l.o_orderkey, l.o_orderstatus, k.know_at, l.cents,
         row_number() OVER (PARTITION BY l.o_orderkey, k.know_at
                            ORDER BY l.recorded_at DESC) AS rn
  FROM ledger l JOIN knowledge k ON l.recorded_at <= k.know_at
  WHERE l.valid_date BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
)
SELECT o_orderstatus, know_at,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM effective WHERE rn = 1
GROUP BY o_orderstatus, know_at
ORDER BY o_orderstatus, know_at
"""


@register("etl_bitemporal_asof", oracle=_BITEMPORAL_ORACLE, tags=("etl", "temporal", "window"))
def etl_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL query — the two-axis time model regulated reporting
    requires (what did 1995's book say, AS KNOWN on date K?): every
    fact row carries a VALID date (when it was true) and a RECORDED
    date (when the system learned it); restatements append new
    recorded versions without touching history. The as-of read picks,
    per key and knowledge date, the latest recorded row at or before
    K — so the same 1995 cohort reports different totals at the 1996
    and 1998 knowledge points as corrections land (every 7th order
    restated +10%, every 21st again +20%). This is `etl_scd2`'s
    missing second axis and the query pattern behind audit replays
    and restatement diffing. Plan: the ledger is one union of
    projections; the knowledge dates broadcast (2 rows); one
    (key, know_at) window picks the effective version; the rollup is
    map-side-combinable. At 100 TB the ledger partitions by
    recorded_at month so an as-of K prunes all later partitions."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderdate").alias("valid_date"),
        F.col("o_orderdate").alias("recorded_at"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    corr1 = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_orderdate").alias("valid_date"),
            F.date_add("o_orderdate", 10).alias("recorded_at"),
            F.round(F.col("o_totalprice") * 110).cast("long").alias("cents"),
        )
    )
    corr2 = (
        o.filter(F.col("o_orderkey") % 21 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_orderdate").alias("valid_date"),
            F.date_add("o_orderdate", 20).alias("recorded_at"),
            F.round(F.col("o_totalprice") * 120).cast("long").alias("cents"),
        )
    )
    ledger = base.unionByName(corr1).unionByName(corr2).filter(
        F.col("valid_date").between("1995-01-01", "1995-12-31")
    )
    knowledge = spark.createDataFrame(
        [("1996-01-05",), ("1998-01-05",)], "know_at string"
    ).select(F.col("know_at").cast("date"))
    from pyspark.sql import Window as W

    joined = ledger.join(
        F.broadcast(knowledge), F.col("recorded_at") <= F.col("know_at")
    )
    rn = F.row_number().over(
        W.partitionBy("o_orderkey", "know_at").orderBy(F.col("recorded_at").desc())
    )
    return (
        joined.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .groupBy("o_orderstatus", "know_at")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_orderstatus", "know_at")
    )


# --------------------------------------------------------------------------
# SPRT sequential A/B decision
# --------------------------------------------------------------------------

# ln(p1/p0), ln((1-p1)/(1-p0)) for p0=0.5, p1=0.6, in exact milli-nats
_SPRT_UP = 182  # round(ln(1.2)*1000)
_SPRT_DOWN = -223  # round(ln(0.8)*1000)
_SPRT_BOUND = 2944  # round(ln(19)*1000); alpha = beta = 0.05

_SPRT_ORACLE = f"""
WITH trials AS (
  SELECT event_type, ts, event_id,
         CASE WHEN CAST(round(value * 100) AS BIGINT) % 2 = 0
              THEN {_SPRT_UP} ELSE {_SPRT_DOWN} END AS step
  FROM events
),
walk AS (
  SELECT event_type,
         row_number() OVER w AS n,
         sum(step) OVER (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS llr
  FROM trials
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
crossings AS (
  SELECT event_type, n, llr,
         row_number() OVER (PARTITION BY event_type ORDER BY n) AS cross_rank
  FROM walk WHERE llr >= {_SPRT_BOUND} OR llr <= -{_SPRT_BOUND}
),
verdicts AS (
  SELECT event_type, n AS n_at_decision, llr AS llr_milli,
         CASE WHEN llr >= {_SPRT_BOUND} THEN 'accept_h1' ELSE 'accept_h0' END
           AS decision
  FROM crossings WHERE cross_rank = 1
),
totals AS (SELECT event_type, count(*) AS n_total FROM trials GROUP BY event_type)
SELECT t.event_type,
       coalesce(v.decision, 'continue') AS decision,
       CAST(coalesce(v.n_at_decision, t.n_total) AS BIGINT) AS n_at_decision,
       CAST(coalesce(v.llr_milli, 0) AS BIGINT) AS llr_milli
FROM totals t LEFT JOIN verdicts v USING (event_type)
ORDER BY t.event_type
"""


@register("stats_sprt_sequential", oracle=_SPRT_ORACLE, tags=("stats", "experimentation", "window"))
def stats_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT — the sequential test that lets an experiment STOP
    EARLY the moment evidence suffices (H0: p=0.5 vs H1: p=0.6,
    alpha=beta=0.05): the log-likelihood ratio walks +ln(1.2) per
    success / +ln(0.8) per failure and the FIRST crossing of
    +-ln(19) decides; never crossing means keep collecting. Streaming
    A/B platforms run exactly this walk per metric. Steps are exact
    integer milli-nats, so the crossing row — the decision — is
    engine-exact (a double cumsum could cross a boundary by a ulp).
    Plan: one event-ordered window cumsum per type (ONE shuffle),
    crossing pick via a second window over the filtered crossings
    sharing the same partitioning, and a tiny left join for the
    never-crossed verdict. At 100 TB the walk partitions by
    experiment and the cumsum is the same single exchange."""
    ev = load_table(spark, sf_dir, "events")
    step = F.when(
        F.round(F.col("value") * 100).cast("long") % 2 == 0, _SPRT_UP
    ).otherwise(_SPRT_DOWN)
    trials = ev.select("event_type", "ts", "event_id", step.alias("step"))
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    walk = trials.select(
        "event_type",
        F.row_number().over(w).alias("n"),
        F.sum("step").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("llr"),
    )
    crossings = walk.filter(
        (F.col("llr") >= _SPRT_BOUND) | (F.col("llr") <= -_SPRT_BOUND)
    )
    first = (
        crossings.withColumn(
            "cross_rank",
            F.row_number().over(W.partitionBy("event_type").orderBy("n")),
        )
        .filter(F.col("cross_rank") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_at_decision"),
            F.col("llr").alias("llr_milli"),
            F.when(F.col("llr") >= _SPRT_BOUND, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
    )
    totals = trials.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        totals.join(first, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("decision", F.lit("continue")).alias("decision"),
            F.coalesce("n_at_decision", F.col("n_total")).cast("long").alias("n_at_decision"),
            F.coalesce("llr_milli", F.lit(0)).cast("long").alias("llr_milli"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# KS / Gini scorecard (credit-risk model discrimination readout)
# --------------------------------------------------------------------------

_KS_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
),
scored AS (
  SELECT doc_id, max(lang) AS lang,
         CAST(sum(CASE WHEN w IN ('the', 'of', 'and', 'to', 'in', 'is', 'that', 'for')
                  THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS score_milli,
         CASE WHEN max(lang) = 'en' THEN 1 ELSE 0 END AS y
  FROM tok GROUP BY doc_id
),
support AS (
  SELECT score_milli,
         CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(1 - y) AS BIGINT) AS neg
  FROM scored GROUP BY score_milli
),
cum AS (
  SELECT score_milli,
         sum(pos) OVER (ORDER BY score_milli) AS cpos,
         sum(neg) OVER (ORDER BY score_milli) AS cneg
  FROM support
),
tots AS (
  SELECT CAST(sum(y) AS BIGINT) AS n_pos, CAST(sum(1 - y) AS BIGINT) AS n_neg
  FROM scored
),
ks_pick AS (
  SELECT c.score_milli,
         abs(c.cpos * t.n_neg - c.cneg * t.n_pos) AS sep,
         row_number() OVER (ORDER BY abs(c.cpos * t.n_neg - c.cneg * t.n_pos) DESC,
                            c.score_milli) AS rn
  FROM cum c, tots t
),
ranked AS (
  SELECT y,
         2 * rank() OVER (ORDER BY score_milli)
           + count(*) OVER (PARTITION BY score_milli) - 1 AS rank2
  FROM scored
),
auc AS (
  SELECT CAST(sum(CASE WHEN y = 1 THEN rank2 ELSE 0 END) AS BIGINT) AS r1x2
  FROM ranked
)
SELECT t.n_pos, t.n_neg,
       CAST(k.score_milli AS BIGINT) AS ks_at_score_milli,
       floor(CAST(k.sep AS DOUBLE) / (CAST(t.n_pos AS DOUBLE) * t.n_neg)
             * 1000000 + 0.5) / 1000000 AS ks_stat,
       floor(((a.r1x2 - t.n_pos * (t.n_pos + 1))
              / (CAST(t.n_pos AS DOUBLE) * t.n_neg) - 1.0)
             * 1000000 + 0.5) / 1000000 AS gini
FROM tots t, auc a, (SELECT * FROM ks_pick WHERE rn = 1) k
"""


@register("ml_gini_ks_scorecard", oracle=_KS_ORACLE, tags=("ml", "eval"))
def ml_gini_ks_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The credit-scorecard discrimination pair: KS statistic (max
    separation between the positive and negative score CDFs, with the
    threshold WHERE it peaks) and the Gini coefficient (2*AUC - 1, via
    the same exact rank-sum as `ml_auc_roc`). KS drives cutoff
    placement, Gini is the regulatory headline — risk teams quote
    both. Exactness: cumulative counts stay integers, and the argmax
    compares |cpos*n_neg - cneg*n_pos| (the cross-multiplied
    separation) so the threshold pick can never straddle a double
    rounding; divisions happen once, on the final readouts. Plan: the
    score support table (distinct score values) is tiny at any corpus
    size — the cumulative window and the argmax run on |support|
    rows, the same value-compression the KS two-sample test uses."""
    from pyspark.sql import Window as W

    from us_stock_data_pipeline_spark.queries.ml_eval_ops import _scored

    scored = registry.track_persist(_scored(spark, sf_dir))
    support = scored.groupBy("score_milli").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("neg"),
    )
    wcum = W.orderBy("score_milli").rowsBetween(W.unboundedPreceding, 0)
    cum = support.select(
        "score_milli",
        F.sum("pos").over(wcum).alias("cpos"),
        F.sum("neg").over(wcum).alias("cneg"),
    )
    tots = scored.agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n_neg"),
    )
    sep = F.abs(F.col("cpos") * F.col("n_neg") - F.col("cneg") * F.col("n_pos"))
    ks_pick = (
        cum.crossJoin(F.broadcast(tots))
        .withColumn("sep", sep)
        .withColumn(
            "rn",
            F.row_number().over(W.orderBy(F.col("sep").desc(), F.col("score_milli"))),
        )
        .filter(F.col("rn") == 1)
        .select("score_milli", "sep")
    )
    rank2 = (
        F.lit(2) * F.rank().over(W.orderBy("score_milli"))
        + F.count(F.lit(1)).over(W.partitionBy("score_milli"))
        - 1
    )
    auc = scored.select("y", rank2.alias("rank2")).agg(
        F.sum(F.when(F.col("y") == 1, F.col("rank2")).otherwise(0))
        .cast("long")
        .alias("r1x2")
    )
    ks_stat = F.floor(
        F.col("sep").cast("double")
        / (F.col("n_pos").cast("double") * F.col("n_neg"))
        * 1000000
        + F.lit(0.5)
    ) / 1000000
    gini = F.floor(
        (
            (F.col("r1x2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (F.col("n_pos").cast("double") * F.col("n_neg"))
            - 1.0
        )
        * 1000000
        + F.lit(0.5)
    ) / 1000000
    return (
        tots.crossJoin(auc)
        .crossJoin(ks_pick)
        .select(
            "n_pos",
            "n_neg",
            F.col("score_milli").cast("long").alias("ks_at_score_milli"),
            ks_stat.alias("ks_stat"),
            gini.alias("gini"),
        )
    )


# --------------------------------------------------------------------------
# Kimball accumulating-snapshot fact table
# --------------------------------------------------------------------------

_ACCUM_ORACLE = """
WITH milestones AS (
  SELECT o.o_orderkey, o.o_orderstatus,
         CAST(o.o_orderdate AS DATE) AS placed,
         min(CAST(l.l_shipdate AS DATE)) AS first_ship,
         max(CAST(l.l_shipdate AS DATE)) AS last_ship,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderstatus, o.o_orderdate
),
snap AS (
  SELECT o_orderstatus,
         date_diff('day', placed, first_ship) AS d_place_ship,
         date_diff('day', first_ship, last_ship) AS d_ship_spread,
         n_lines
  FROM milestones
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(d_place_ship) AS BIGINT) AS sum_days_to_first_ship,
       CAST(max(d_place_ship) AS BIGINT) AS max_days_to_first_ship,
       CAST(sum(d_ship_spread) AS BIGINT) AS sum_ship_spread_days,
       CAST(sum(n_lines) AS BIGINT) AS total_lines
FROM snap
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("etl_accumulating_snapshot", oracle=_ACCUM_ORACLE, tags=("etl", "dimensional"))
def etl_accumulating_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball's ACCUMULATING SNAPSHOT fact table: one row per order
    that gathers its lifecycle milestones (placed -> first ship ->
    last ship) as they land, with lag columns between consecutive
    milestones — the dimensional model for any pipeline-shaped process
    (fulfillment, claims, loan origination), and the third fact-table
    type next to the transaction grain (lineitem itself) and the
    periodic snapshot (`bars_ohlcv_resample`). The milestone gather is
    one groupBy over the line facts joined to the order header; lags
    are map-side date arithmetic; the readout rolls up lag totals per
    status. At 100 TB the snapshot maintains incrementally: only
    orders with NEW line events re-aggregate (the per-key watermark
    pattern, `etl_watermark_per_key`), everything else is untouched —
    which is exactly why Kimball mandates updates-in-place for this
    table type, here expressed as `etl_versioned_merge`'s
    touched-partition MERGE."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    milestones = (
        li.select("l_orderkey", F.col("l_shipdate").cast("date").alias("ship"))
        .join(
            o.select(
                "o_orderkey",
                "o_orderstatus",
                F.col("o_orderdate").cast("date").alias("placed"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderstatus", "placed")
        .agg(
            F.min("ship").alias("first_ship"),
            F.max("ship").alias("last_ship"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )
    return (
        milestones.select(
            "o_orderstatus",
            F.datediff("first_ship", "placed").alias("d_place_ship"),
            F.datediff("last_ship", "first_ship").alias("d_ship_spread"),
            "n_lines",
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("d_place_ship").cast("long").alias("sum_days_to_first_ship"),
            F.max("d_place_ship").cast("long").alias("max_days_to_first_ship"),
            F.sum("d_ship_spread").cast("long").alias("sum_ship_spread_days"),
            F.sum("n_lines").cast("long").alias("total_lines"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Python UDF ladder: Arrow-optimized scalar UDF + mapInArrow
# --------------------------------------------------------------------------

_ARROW_UDF_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN contains(props, '"k"') THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("udf_arrow_python", oracle=_ARROW_UDF_ORACLE, tags=("udf", "arrow"))
def udf_arrow_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ARROW-OPTIMIZED Python UDF (`@udf(useArrow=True)`): the
    middle rung of the Python ladder — same row-at-a-time authoring as
    a classic pickled UDF, but arguments/results move in Arrow batches
    (~2x the pickled path; pandas_udf's columnar kernels remain the
    top rung, `pandas_udf_vowel_stats`). The kernel flags whether a
    JSON props payload mentions key "k" — trivially expressible with
    built-ins (the oracle does), which is the point: the row verifies
    the UDF TRANSPORT is faithful, while the docstring records the
    policy (built-ins > pandas_udf > arrow UDF > pickled UDF, in that
    order, and only the first two belong in 100 TB hot paths)."""
    from pyspark.sql.functions import udf

    @udf("int", useArrow=True)
    def has_k(props: str) -> int:
        return 1 if props is not None and '"k"' in props else 0

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", has_k("props").alias("hk"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("hk").cast("long").alias("n_with_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters (mergeable bounded-memory sketch)
# --------------------------------------------------------------------------

_MG_K = 16  # sketch capacity: finds every item with freq > n/K

_MG_ORACLE = f"""
WITH stream AS (
  SELECT CASE WHEN user_id % 10 < 6 THEN user_id % 3 ELSE user_id END AS item
  FROM events
),
tot AS (SELECT count(*) AS n FROM stream),
exact AS (
  SELECT item, CAST(count(*) AS BIGINT) AS freq FROM stream GROUP BY item
)
SELECT e.item, e.freq,
       true AS in_candidates
FROM exact e, tot t
WHERE e.freq > t.n / {_MG_K}
ORDER BY e.freq DESC, e.item
"""


def _mg_partition(batches):
    """REAL Misra-Gries kernel over one partition's Arrow batches:
    k counters, decrement-all on overflow, zero-count eviction.
    Guarantee (unit-tested): every item with partition frequency
    > n_partition / k survives in the emitted summary, and each
    emitted lb is a LOWER bound on the item's true partition count."""
    import pandas as pd

    counters: dict[int, int] = {}
    for pdf in batches:
        for item in pdf["item"]:
            item = int(item)
            if item in counters:
                counters[item] += 1
            elif len(counters) < _MG_K:
                counters[item] = 1
            else:
                # decrement-all: every counter pays one; zeros evicted
                dead = []
                for k in counters:
                    counters[k] -= 1
                    if counters[k] == 0:
                        dead.append(k)
                for k in dead:
                    del counters[k]
    yield pd.DataFrame(
        {"item": pd.Series(list(counters), dtype="int64"),
         "lb": pd.Series(list(counters.values()), dtype="int64")}
    )


@register(
    "agg_misra_gries_heavy_hitters",
    oracle=_MG_ORACLE,
    tags=("agg", "sketch", "approx"),
)
def agg_misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters, the bounded-memory frequent-items
    sketch, in its distributed two-stage shape: each partition runs a
    REAL k-counter MG kernel over its rows (decrement-all on
    overflow), emitting <= k candidates; the pigeonhole guarantee
    makes the UNION of partition candidates a SUPERSET of every
    global item with freq > n/k (if an item stays under its local
    threshold in every partition, the sum stays under n/k) — so a
    cheap exact rescan restricted to the tiny candidate set yields
    EXACT heavy hitters with two passes and O(k x partitions) sketch
    state, never a full-cardinality groupBy. This is how
    heavy-hitter monitoring runs on 100 TB streams where the key
    space (user ids, IPs) is too wide to count exactly. The sketch
    itself is order-sensitive, so the CHECKED output is the
    order-invariant part — the exact heavy hitters and the superset
    property (asserted per row by joining candidates) — while the
    MG kernel's mechanics are pinned by unit tests."""
    ev = load_table(spark, sf_dir, "events")
    stream = ev.select(
        F.when(F.col("user_id") % 10 < 6, F.col("user_id") % 3)
        .otherwise(F.col("user_id"))
        .alias("item")
    )
    candidates = (
        stream.mapInPandas(_mg_partition, "item long, lb long")
        .select("item")
        .dropDuplicates()
    )
    tot = stream.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        stream.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("freq") > F.col("n") / _MG_K)
        .join(F.broadcast(candidates.withColumn("in_candidates", F.lit(True))), "item", "left")
        .select("item", "freq", F.coalesce("in_candidates", F.lit(False)).alias("in_candidates"))
        .orderBy(F.col("freq").desc(), "item")
    )


# --------------------------------------------------------------------------
# Sequence-pattern mining via regex over ordered event strings
# --------------------------------------------------------------------------

_SEQPAT_ORACLE = """
WITH coded AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
              ELSE 'e' END AS ch
  FROM events
),
journeys AS (
  SELECT user_id,
         string_agg(ch, '' ORDER BY ts, event_id) AS journey
  FROM coded GROUP BY user_id
),
scored AS (
  SELECT user_id, length(journey) AS n_events,
         len(regexp_extract_all(journey, 'v[^p]*?p')) AS n_conversions,
         len(regexp_extract_all(journey, 'ee+')) AS n_error_bursts,
         contains(journey, 'vcp') AS has_strict_funnel
  FROM journeys
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n_conversions) AS BIGINT) AS total_conversions,
       CAST(sum(CASE WHEN n_conversions > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS users_converted,
       CAST(sum(n_error_bursts) AS BIGINT) AS total_error_bursts,
       CAST(sum(CASE WHEN has_strict_funnel THEN 1 ELSE 0 END) AS BIGINT)
         AS users_strict_funnel
FROM scored
"""


@register(
    "events_sequence_pattern_regex",
    oracle=_SEQPAT_ORACLE,
    tags=("analytics", "sequence", "funnel"),
)
def events_sequence_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: encode each user's event journey as ONE
    ordered character string (one letter per event), then mine
    sequence patterns with plain regex — lazy conversions
    ('v[^p]*?p': a view later closed by a purchase, non-overlapping
    exactly like MATCH_RECOGNIZE's AFTER MATCH SKIP PAST), error
    bursts ('ee+'), strict funnels ('vcp'). This is the standard
    journey-mining trick where full MATCH_RECOGNIZE is unavailable
    (Spark has no row pattern matching; `events_funnel_3step` does
    the join formulation — regex handles patterns joins cannot,
    like bounded gaps and repetitions, in one pass). Determinism:
    the journey string is built from an array_sort over
    (ts, event_id, ch) structs, the same total order as the
    oracle's ORDER BY inside string_agg. Scale: one user-keyed
    shuffle builds journeys (a user's history fits a string); the
    regex runs map-side per journey; the rollup is one tiny agg —
    at 100 TB you'd cap journey length at ingest, exactly like
    `events_path_analysis` does."""
    ev = load_table(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    journeys = (
        ev.select("user_id", F.struct("ts", "event_id", ch.alias("ch")).alias("x"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list("x")), lambda s: s.ch)
            ).alias("journey")
        )
    )
    scored = journeys.select(
        F.regexp_count("journey", F.lit("v[^p]*?p")).alias("n_conversions"),
        F.regexp_count("journey", F.lit("ee+")).alias("n_error_bursts"),
        F.col("journey").contains("vcp").alias("has_strict_funnel"),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_conversions").cast("long").alias("total_conversions"),
        F.sum(F.when(F.col("n_conversions") > 0, 1).otherwise(0))
        .cast("long")
        .alias("users_converted"),
        F.sum("n_error_bursts").cast("long").alias("total_error_bursts"),
        F.sum(F.when(F.col("has_strict_funnel"), 1).otherwise(0))
        .cast("long")
        .alias("users_strict_funnel"),
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language
# --------------------------------------------------------------------------

_FERTILITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang,
         string_split(text, ' ') AS words,
         length(text) AS n_chars
  FROM documents
),
counts AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(words)) AS BIGINT) AS n_words,
         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         -- whitespace+punct proxy tokenizer: every word contributes
         -- ceil(len(word)/4) subword tokens (the 4-chars-per-token
         -- rule of thumb a real BPE replaces)
         CAST(sum(list_sum(list_transform(words,
              w -> (length(w) + 3) // 4))) AS BIGINT) AS n_subwords
  FROM toks GROUP BY lang
)
SELECT lang, n_docs, n_words, n_subwords,
       round(CAST(n_subwords AS DOUBLE) / n_words, 4) AS fertility,
       round(CAST(n_chars AS DOUBLE) / n_subwords, 4) AS chars_per_token
FROM counts
ORDER BY lang
"""


@register("tokenizer_fertility_by_lang", oracle=_FERTILITY_ORACLE, tags=("llm", "tokenizer"))
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY (subword tokens per word) and compression
    (chars per token) broken down by language — the metric pair that
    decides whether a tokenizer underserves a language (high fertility
    = more tokens per sentence = less effective context and higher
    serving cost; the multilingual-equity number every tokenizer
    paper reports). The subword proxy is the ceil(len/4) rule of
    thumb — a real deployment swaps in tokenizer counts landed as a
    column by the inference fleet, and the DATAFLOW (one map-side HOF
    fold per doc, one language rollup) is unchanged. All counts are
    exact BIGINTs; fertility/compression are terminal divisions. At
    100 TB: single pass, no shuffle beyond the |languages|-row
    rollup's map-side combine."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    subwords = F.aggregate(
        F.transform(words, lambda w: F.floor((F.length(w) + 3) / 4).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    counts = (
        docs.select(
            "lang",
            F.size(words).cast("long").alias("w"),
            F.length("text").cast("long").alias("c"),
            subwords.alias("sw"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("n_words"),
            F.sum("c").cast("long").alias("n_chars"),
            F.sum("sw").cast("long").alias("n_subwords"),
        )
    )
    return counts.select(
        "lang",
        "n_docs",
        "n_words",
        "n_subwords",
        F.round(F.col("n_subwords").cast("double") / F.col("n_words"), 4).alias("fertility"),
        F.round(F.col("n_chars").cast("double") / F.col("n_subwords"), 4).alias(
            "chars_per_token"
        ),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# Code-vs-prose detection (corpus routing filter)
# --------------------------------------------------------------------------

_CODE_ORACLE = """
WITH feat AS (
  SELECT doc_id, source,
         length(text) AS n,
         length(text) - length(replace(text, '{', ''))
           + length(text) - length(replace(text, '}', ''))
           + length(text) - length(replace(text, ';', '')) AS n_codechars,
         length(text) - length(replace(text, '=', '')) AS n_equals,
         len(string_split(text, ' ')) AS n_words
  FROM documents
),
scored AS (
  SELECT source,
         CAST(n_codechars * 1000 // n AS BIGINT) AS code_permille,
         CAST(n_equals * 1000 // n AS BIGINT) AS eq_permille,
         (n_codechars * 1000 // n) >= 5 OR (n_equals * 1000 // n) >= 10
           AS looks_like_code
  FROM feat WHERE n > 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN looks_like_code THEN 1 ELSE 0 END) AS BIGINT)
         AS n_code_docs,
       CAST(sum(code_permille) AS BIGINT) AS sum_code_permille,
       CAST(max(code_permille) AS BIGINT) AS max_code_permille
FROM scored
GROUP BY source
ORDER BY source
"""


@register("text_code_detection", oracle=_CODE_ORACLE, tags=("llm", "text", "quality"))
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing: flag documents whose brace/semicolon and
    assignment-operator densities (exact integer permille of chars)
    cross code-like thresholds — the cheap first-pass router that
    splits a web crawl into code and natural-language streams BEFORE
    language-specific pipelines run (code goes to dedup-by-AST-ish
    paths and code-quality filters; prose to the Gopher battery —
    `text_gopher_quality_rules`). Pure map-side character counting
    via replace-diff (no regex engine in the hot path), exact integer
    permilles so the routing decision is engine-exact, one small
    rollup per source. At 100 TB this is a scan-speed pass, which is
    the whole point of running it first."""
    docs = load_table(spark, sf_dir, "documents")

    def chr_count(c: str):
        return F.length("text") - F.length(F.regexp_replace("text", "\\" + c, ""))

    raw = docs.filter(F.length("text") > 0).select(
        "source",
        F.length("text").cast("long").alias("n"),
        (chr_count("{") + chr_count("}") + chr_count(";")).cast("long").alias("nc"),
        chr_count("=").cast("long").alias("ne"),
    )
    scored = raw.select(
        "source",
        F.expr("nc * 1000 div n").alias("code_permille"),
        F.expr("ne * 1000 div n").alias("eq_permille"),
    ).select(
        "source",
        "code_permille",
        ((F.col("code_permille") >= 5) | (F.col("eq_permille") >= 10)).alias(
            "looks_like_code"
        ),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("looks_like_code"), 1).otherwise(0))
            .cast("long")
            .alias("n_code_docs"),
            F.sum("code_permille").cast("long").alias("sum_code_permille"),
            F.max("code_permille").cast("long").alias("max_code_permille"),
        )
        .orderBy("source")
    )
