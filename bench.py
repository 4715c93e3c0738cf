"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology (stable, attributable):

1. The DuckDB baseline runs FIRST on a quiet machine — same oracle SQL,
   same parquet files, same process — best-of-REPS per query, with
   per-query splits recorded (``duckdb_queries``) so any regression is
   attributable query-by-query.
2. Spark warm-up pass at the smallest sf (JIT/codegen/streaming
   machinery), excluded from measurement.
3. Spark sequential: best-of-REPS per query. Timing includes full plan
   construction, execution, and Arrow result fetch (``toPandas`` — the
   path a real client uses; row-at-a-time ``collect`` pickling is 3-10x
   slower at 100k rows and is not how results leave a cluster).
4. Spark concurrent: the whole set submitted at once (best-of-REPS
   walls) — per-query driver/job-machinery overhead amortizes across
   the set, as on a multi-tenant cluster, so this is the fairer
   throughput number for a batch of small queries and is reported as
   the headline ``value``; the sequential total and the measured
   fixed-job-floor decomposition ride along in the same JSON line.

REPS = 3 for every engine and every mode — symmetric rep counts so
best-of-N selection bias cancels in the ratios.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import us_stock_data_pipeline_spark  # noqa: F401
from us_stock_data_pipeline_spark import registry
from us_stock_data_pipeline_spark.session import get_spark


REPS = 3  # best-of-N, identical for DuckDB and both Spark modes


def _json_line(payload: dict) -> str:
    """Serialize the bench payload as exactly ONE parseable JSON line.

    The driver's round-over-round comparison parses this line; r12's
    emission failed to parse driver-side (PERF_r13 `prev_bench_ok:
    false`), silencing the whole comparison. Pin the contract here:
    single line, no NaN/Infinity (json.dumps would emit them by default
    and strict parsers reject both), round-trips through json.loads.
    tests/test_bench_contract.py exercises this helper directly.
    """
    line = json.dumps(payload, allow_nan=False)
    if "\n" in line or "\r" in line:
        raise ValueError("bench JSON payload serialized to multiple lines")
    json.loads(line)  # round-trip check: fail HERE, not driver-side
    return line


def _band(a, b):
    """Spread between two runs of identical code, in percent of the
    faster run, so it reads the same whichever run came first."""
    lo = min(a, b)
    return round(100.0 * abs(b - a) / lo, 1) if lo else None


def _run(fn, spark, sf_dir) -> int:
    """Execute one query end-to-end; return its row count."""
    return len(fn(spark, sf_dir).toPandas())


def _duckdb_baseline(sf_dir: str) -> tuple[float | None, dict[str, float]]:
    """Best-of-REPS per-query DuckDB timings for the benched oracle SQL."""
    try:
        import duckdb

        from us_stock_data_pipeline_spark.catalog import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        oracles = registry.oracles()
        splits: dict[str, float] = {}
        for name in registry.bench_queries():
            if name not in oracles:
                continue
            best = float("inf")
            for _ in range(REPS):
                t0 = time.time()
                con.execute(oracles[name]).fetchall()
                best = min(best, time.time() - t0)
            splits[name] = round(best, 3)
        return round(sum(splits.values()), 3), splits
    except Exception as e:  # noqa: BLE001
        print(f"# duckdb baseline failed: {e}", file=sys.stderr)
        return None, {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Baseline first: measured before the Spark JVM saturates the cores,
    # so neither engine's numbers are polluted by the other's GC/threads.
    duck_total, duck_queries = _duckdb_baseline(sf_dir)

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = sf_dir.replace(m.group(0), "sf0.001") if m else sf_dir
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name, fn in registry.bench_queries().items():
        try:
            _run(fn, spark, warm_dir)
        except Exception as e:  # noqa: BLE001
            print(f"# warmup {name} failed: {e}", file=sys.stderr)

    # Best-of-REPS with back-to-back reps (same structure as the DuckDB
    # loop): later reps run with hot codegen/file-status caches, so the
    # number reported is steady-state per-query latency, not first-run
    # cache population.
    # Per-query failure isolation: one broken query records an "err" entry
    # and is excluded from totals/concurrent — it can never again zero out
    # a whole round's performance evidence (BENCH_r04 lesson).
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name, fn in registry.bench_queries().items():
        best = float("inf")
        try:
            for rep in range(REPS):
                t0 = time.time()
                rows[name] = _run(fn, spark, sf_dir)
                best = min(best, time.time() - t0)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.2f}s rows={rows[name]}", file=sys.stderr)

    from concurrent.futures import ThreadPoolExecutor

    # LPT (longest-processing-time-first) submission: with a bounded pool,
    # makespan is minimized when the long poles start first instead of
    # landing on an already-drained pool at the tail. The sequential pass
    # just measured every query, so the schedule is free.
    ok_fns = [
        fn
        for name, fn in sorted(
            registry.bench_queries().items(),
            key=lambda kv: -timings.get(kv[0], 0.0),
        )
        if name in timings
    ]
    concurrent_wall = float("inf")
    for rep in range(REPS):
        # Drop persisted blocks accumulated by prior reps (each fn() call
        # builds a fresh DataFrame, so old cache entries are dead weight
        # that only adds GC churn to the measurement).
        spark.catalog.clearCache()
        t0 = time.time()
        # Pool size re-swept when the headline set grew 21 -> 30 queries
        # (driver-round-6: 8w=7.9s, 10w=7.8s, 12w=6.7s, 14w=6.5s,
        # 16w=6.7s): more concurrent queries need more in-flight jobs to
        # keep the long poles company; past ~14 the scheduler thrashes.
        with ThreadPoolExecutor(max_workers=14) as pool:
            list(pool.map(lambda fn: _run(fn, spark, sf_dir), ok_fns))
        concurrent_wall = min(concurrent_wall, round(time.time() - t0, 3))

    # Fixed job floor: measured per-query overhead of a trivial one-stage
    # query on warm local[32] (BASELINE.md "fixed overhead decomposition")
    # — plan->job->file-scan->task->Arrow-fetch machinery that amortizes
    # across a concurrent batch but is paid per query sequentially.
    # Measured as a real tiny parquet aggregate (spark.range(1) skips the
    # scan planning a real query pays and under-reads the floor ~10x);
    # re-measured here (not hard-coded) so the decomposition tracks the
    # build.
    from us_stock_data_pipeline_spark.catalog import load_table

    floor_reps = []
    for _ in range(REPS):
        t0 = time.time()
        load_table(spark, sf_dir, "region").groupBy().count().toPandas()
        floor_reps.append(time.time() - t0)
    job_floor = round(min(floor_reps), 3)

    # ---- cluster-profile pass (judge r6 item 4) ----
    # Same headline set under the CLUSTER profile's SQL knobs: shuffle
    # width 2000 with AQE coalescing down per stage (a real deployment
    # starts high and lets AQE right-size; local starts low). Applied on
    # an isolated newSession so the two profiles can't contaminate each
    # other; spark.scheduler.mode is SparkContext-level (spark-submit
    # territory) and does not affect plans, so FIFO-vs-FAIR is out of
    # scope for an in-process A/B. A normalized plan-diff on key queries
    # records whether the plans survive the partition-count change.
    cluster = spark.newSession()
    from us_stock_data_pipeline_spark.session import ensure_session_confs

    ensure_session_confs(cluster)
    cluster.conf.set("spark.sql.shuffle.partitions", "2000")
    cluster_timings: dict[str, float] = {}
    for name, fn in registry.bench_queries().items():
        if name not in timings:
            continue
        best = float("inf")
        try:
            for _ in range(REPS):
                t0 = time.time()
                _run(fn, cluster, sf_dir)
                best = min(best, time.time() - t0)
        except Exception as e:  # noqa: BLE001
            print(f"# cluster-profile {name}: ERROR {e}", file=sys.stderr)
            continue
        cluster_timings[name] = round(best, 3)

    def _plan_shape(sess, name: str) -> str:
        df = registry.bench_queries()[name](sess, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # Normalize away everything partition-count- and run-dependent:
        # ids, sizes, counts, exchange widths — keep operator structure.
        return re.sub(r"\d+", "N", plan)

    plan_diff: dict[str, bool] = {}
    for name in ["q1_pricing_summary", "join_multiway_chain", "dedup_minhash_lsh", "bars_fifo_pnl"]:
        if name in timings and name in cluster_timings:
            try:
                plan_diff[name] = _plan_shape(spark, name) == _plan_shape(cluster, name)
            except Exception as e:  # noqa: BLE001
                print(f"# plan-diff {name}: ERROR {e}", file=sys.stderr)

    # ---- identical-code A/B second run (judge r11 item 8) ----
    # BENCH_NOISE_r11 established that back-to-back runs of identical
    # code swing the concurrent ratio by ~±0.15 (the pure-C++ DuckDB
    # baseline alone moved 22% between runs). Make that instrument a
    # standing artifact: measure the concurrent wall AND the DuckDB
    # baseline a second time in the same process and report both ratios
    # in the same JSON line, so host variance is visible inside every
    # round's bench record instead of needing a post-hoc adjudication.
    duck2_total, duck2_queries = _duckdb_baseline(sf_dir)
    conc2_wall = float("inf")
    for _ in range(REPS):
        spark.catalog.clearCache()
        t0 = time.time()
        with ThreadPoolExecutor(max_workers=14) as pool:
            list(pool.map(lambda fn: _run(fn, spark, sf_dir), ok_fns))
        conc2_wall = min(conc2_wall, round(time.time() - t0, 3))
    duck2_cmp = (
        round(sum(v for k, v in duck2_queries.items() if k in timings), 3)
        if duck2_queries
        else duck2_total
    )

    seq_total = round(sum(timings.values()), 3)
    n_q = len(timings)
    # Ratios compare like-for-like: if a query errored on the Spark side,
    # drop its DuckDB split from the baseline sum too.
    duck_cmp = (
        round(sum(v for k, v in duck_queries.items() if k in timings), 3)
        if duck_queries
        else duck_total
    )
    # Drift band (VERDICT r13 "what's wrong" #2 / next-round #4): the run
    # already times identical code twice at well-separated points — the
    # DuckDB baseline (start vs late) and the Spark concurrent wall
    # (mid vs end) — an interleaved A/B of the HOST, not the code. Surface
    # the spread so every bench record carries its own noise estimate;
    # per-change attribution still comes from same-session A/Bs
    # (tools/opt_probe.py), never from cross-run split deltas.
    drift = {
        "duckdb_band_pct": _band(duck_total, duck2_total)
        if duck_total and duck2_total
        else None,
        "concurrent_band_pct": _band(concurrent_wall, conc2_wall),
        "note": (
            "spread between same-process repeats of identical code "
            "(DuckDB baseline run1 vs run2, Spark concurrent run1 vs "
            "run2) — the host noise floor any cross-run per-query delta "
            "must clear before it means anything"
        ),
    }

    print(
        _json_line(
            {
                # Headline = concurrent wall: the throughput number a
                # multi-query workload sees; per-query machinery floor
                # (n_q x job_floor of the sequential total) amortizes
                # away, which is why conc_over_duckdb, not
                # seq_over_duckdb, is the like-for-like engine ratio.
                "metric": "concurrent_wall_headline_set",
                "value": concurrent_wall,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": n_q,
                "sequential_total_sec": seq_total,
                "concurrent_wall_sec": concurrent_wall,
                "duckdb_baseline_sec": duck_total,
                "duckdb_queries": duck_queries,
                "errors": errors,
                "seq_over_duckdb": (
                    round(seq_total / duck_cmp, 2) if duck_cmp else None
                ),
                "conc_over_duckdb": (
                    round(concurrent_wall / duck_cmp, 2) if duck_cmp else None
                ),
                "spark_job_floor_sec": job_floor,
                "drift": drift,
                "ab_second_run": {
                    "concurrent_wall_sec": conc2_wall,
                    "duckdb_baseline_sec": duck2_total,
                    "conc_over_duckdb": (
                        round(conc2_wall / duck2_cmp, 2) if duck2_cmp else None
                    ),
                    "note": (
                        "identical-code back-to-back rerun (concurrent wall "
                        "+ DuckDB baseline); the spread vs conc_over_duckdb "
                        "is this host's live noise band (+/-0.15 established "
                        "in docs/BENCH_NOISE_r11.md)"
                    ),
                },
                "cluster_profile": {
                    "confs": {"spark.sql.shuffle.partitions": "2000 (AQE coalesces)"},
                    "sequential_total_sec": round(sum(cluster_timings.values()), 3),
                    "queries": cluster_timings,
                    "plan_shape_identical": plan_diff,
                },
                "floor_decomposition": (
                    f"sequential {seq_total}s = {n_q} queries x ~{job_floor}s "
                    f"fixed Spark job floor (~{round(n_q * job_floor, 1)}s) + data work; "
                    "DuckDB's floor is ~1ms, so the sequential ratio measures "
                    "job-launch overhead at toy scale, not plan quality — the "
                    "concurrent ratio is the like-for-like number."
                ),
                "cache_policy": (
                    "tracked persists are released at each query entry "
                    "(advisor r8 cache-leak fix), so best-of-N reps no longer "
                    "silently reuse the previous rep's cached blocks via the "
                    "CacheManager plan match — persist-heavy queries "
                    "(rlhf_bradley_terry, ml_naive_bayes_lang, "
                    "dedup_minhash_lsh) now report their true cold-cache cost, "
                    "~0.4-0.8s above the r8 warm-cache artifacts."
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
