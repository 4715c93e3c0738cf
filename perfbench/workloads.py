"""The workloads. Each one is a closed loop: a client sends its next
operation only when the previous one has returned. Every operation's
output is kept and checked after the measured loop ends, outside the
timed regions.

A workload object has ``warm_up(ctx)``, ``run(ctx, seconds)``,
``check(ctx)`` and ``metrics()``; ``run`` repeats whole rounds of the
workload's fixed operation list until ``seconds`` have passed (at least
one round), so every run measures the same mix.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import bars_gen, check
from perfbench.measure import latency_summary
from perfbench.sparkmon import StatusReader, catalyst_phases, job_group

# The bench=True registry queries whose warm latency at sf0.01 is under
# ~0.75 s on a 4-core host: fixed per-query cost (Python build,
# Catalyst, job and stage launch, fetch) is most of their time.
OLAP_SMALL = (
    "agg_multi_distinct_expand",
    "bars_ohlcv_resample",
    "corpus_soft_dedup_weights",
    "dedup_exact",
    "etl_scd2_dimension",
    "etl_sessionization_gaps",
    "filter_conjunctive_range",
    "join_asof",
    "join_broadcast_dim",
    "join_range_banded",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q9_product_profit",
    "text_mattr_lexical_diversity",
    "text_term_frequency",
    "window_rank_topn",
    "window_sliding_median",
)

# The change-feed stream step of bars_ingest: a registry query that
# commits four versions of a small table and streams its change feed.
CDF_STREAM_QUERY = "stream_versioned_cdf_source"

# The fixture scale every query reads.
SF = "sf0.01"


@dataclass
class Ctx:
    """What a workload needs: the session, where to write, the seed, the
    fixture root, and the tracer (None in an untraced run). ``layers``
    collects the per-layer counters of a traced run."""

    spark: object
    work_dir: str
    seed: int
    testdata: str
    tracer: object = None
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def count(self, name: str, value: float) -> None:
        self.layers[name] = self.layers.get(name, 0.0) + float(value)

    @contextlib.contextmanager
    def overhead(self):
        """Time spent reading counters for the trace."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.count("trace.overhead_s", time.perf_counter() - t0)


class Ops:
    """Latencies of one run's operations, by kind, and the number
    attempted."""

    def __init__(self):
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0

    def start(self) -> None:
        self.attempted += 1

    def add(self, kind: str, seconds: float) -> None:
        self.lat.setdefault(kind, []).append(seconds)

    def all(self) -> list[float]:
        return [x for xs in self.lat.values() for x in xs]


def registry_fn(name: str):
    from us_stock_data_pipeline_spark import registry

    return registry.all_queries()[name].fn


def oracle_digest(sf_dir: str, names) -> dict[str, tuple[int, str]]:
    """Row count and value hash of each named query's DuckDB oracle."""
    from us_stock_data_pipeline_spark import registry
    from us_stock_data_pipeline_spark.catalog import TABLES

    oracles = registry.oracles()
    con = check.duckdb_on(sf_dir, TABLES)
    try:
        return {n: check.oracle_digest(con, oracles[n]) for n in names}
    finally:
        con.close()


def _now_ms() -> float:
    return time.time() * 1000.0


def _add_jobs(ctx: Ctx, jobs: list[dict], parent: dict, lo: float = 0.0, hi: float = float("inf")) -> None:
    for j in jobs:
        if j["start_ms"] and j["end_ms"]:
            ctx.tracer.add(f"job {j['job_id']}", "jobs", max(lo, j["start_ms"]), min(hi, j["end_ms"]), parent)


def _traced_call(ctx: Ctx, group: str, name: str, layer: str, fn):
    """Run ``fn`` under a job group. When traced, record its span with
    the group's Spark jobs as children, add the jobs' stage counters to
    the exec layer, and return (result, jobs, stage totals)."""
    if ctx.tracer is None:
        with job_group(ctx.spark, group):
            return fn(), [], {}
    with ctx.tracer.span(name, layer) as span, job_group(ctx.spark, group):
        out = fn()
    with ctx.overhead():
        reader = StatusReader(ctx.spark)
        jobs = reader.jobs(group)
        _add_jobs(ctx, jobs, span)
        totals = reader.stage_totals(jobs)
    for k, v in totals.items():
        ctx.count(k, v)
    return out, jobs, totals


# -- registry queries ---------------------------------------------------------


class QueryWorkload:
    """Registry queries run as ``fn(spark, sf)`` then ``.toPandas()`` by
    one client, in an order shuffled by the seed. Results are checked
    against the registry's DuckDB oracles."""

    def __init__(self, names):
        self.names = tuple(names)
        self.ops = Ops()
        self.results: list[tuple[str, object]] = []
        self.wall_s = 0.0
        self.rounds = 0

    def warm_up(self, ctx: Ctx) -> None:
        """One pass over every query on as many threads as the host has
        cores, in the listed order. A second pass lets the JIT finish more
        of its compiling before the measured pass, but costs about 3 s
        of every run's time budget."""
        sf_dir = os.path.join(ctx.testdata, SF)
        with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
            futures = [pool.submit(lambda n=n: registry_fn(n)(ctx.spark, sf_dir).toPandas()) for n in self.names]
            for f in futures:
                f.result()

    def _one(self, ctx: Ctx, name: str, sf_dir: str) -> None:
        self.ops.start()
        gid = f"q{self.ops.attempted}"
        fn = registry_fn(name)
        try:
            if ctx.tracer is None:
                t0 = time.perf_counter()
                with job_group(ctx.spark, gid):
                    pdf = fn(ctx.spark, sf_dir).toPandas()
                self.ops.add("query", time.perf_counter() - t0)
            else:
                pdf = self._one_traced(ctx, fn, name, sf_dir, gid)
        except Exception as e:  # noqa: BLE001 -- a failed query is counted, the loop goes on
            ctx.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return
        self.results.append((name, pdf))

    def _one_traced(self, ctx: Ctx, fn, name: str, sf_dir: str, gid: str):
        """Spans of one query: the build (``fn()``) with the jobs it ran;
        then the action, split into Catalyst (optimization and planning,
        at the times the plan's tracker recorded), the execution jobs,
        and the Arrow fetch after the last job ended. What the action's
        children leave uncovered is the unattributed driver-side time:
        AQE re-planning and job and stage scheduling between the jobs.
        The root span carries the query's perf_counter wall, which the
        attributed self times are compared with."""
        tr = ctx.tracer
        t0 = time.perf_counter()
        b0 = _now_ms()
        with job_group(ctx.spark, gid + "b"):
            df = fn(ctx.spark, sf_dir)
        b1 = _now_ms()
        with job_group(ctx.spark, gid + "x"):
            pdf = df.toPandas()
        x1 = _now_ms()
        wall_s = time.perf_counter() - t0
        self.ops.add("query", wall_s)
        with ctx.overhead():
            reader = StatusReader(ctx.spark)
            root = tr.add(name, "op", b0, x1, None, wall_ms=wall_s * 1000.0)
            build = tr.add("build", "queries", b0, b1, root)
            bjobs = reader.jobs(gid + "b")
            _add_jobs(ctx, bjobs, build)
            action = tr.add("execute", "exec", b1, x1, root)
            phases = catalyst_phases(df)
            planned = [phases[p] for p in ("optimization", "planning") if p in phases]
            plan_end = b1
            if planned:
                plan_end = min(x1, max(e for _s, e in planned))
                tr.add("catalyst", "catalyst", max(b1, min(s for s, _e in planned)), plan_end, action)
            xjobs = reader.jobs(gid + "x")
            _add_jobs(ctx, xjobs, action, b1, x1)
            ends = [j["end_ms"] for j in xjobs if j["end_ms"]]
            fetch_from = min(x1, max(ends)) if ends else plan_end
            tr.add("fetch", "fetch", fetch_from, x1, action, rows=len(pdf))
            totals = reader.stage_totals(bjobs + xjobs)
        for phase in ("analysis", "optimization", "planning"):
            lo, hi = phases.get(phase, (0.0, 0.0))
            ctx.count(f"catalyst.{phase}_ms", hi - lo)
        for k, v in totals.items():
            ctx.count(k, v)
        ctx.count("queries.build_s", (b1 - b0) / 1000.0)
        ctx.count("queries.build_jobs", len(bjobs))
        ctx.count("fetch.s", (x1 - fetch_from) / 1000.0)
        ctx.count("fetch.rows", len(pdf))
        return pdf

    def run(self, ctx: Ctx, seconds: float) -> None:
        sf_dir = os.path.join(ctx.testdata, SF)
        order = list(self.names)
        random.Random(ctx.seed).shuffle(order)
        t0 = time.perf_counter()
        while True:
            for name in order:
                self._one(ctx, name, sf_dir)
            self.rounds += 1
            if time.perf_counter() - t0 >= seconds:
                break
        self.wall_s = time.perf_counter() - t0

    def check(self, ctx: Ctx) -> int:
        want = oracle_digest(os.path.join(ctx.testdata, SF), self.names)
        for name, pdf in self.results:
            got = check.frame_digest(pdf)
            if got != want[name]:
                ctx.failures.append(f"{name}: got {got}, oracle {want[name]}")
        return len(self.results)

    def metrics(self) -> dict:
        s = latency_summary(self.ops.lat["query"])
        return {
            "queries_per_s": s["n"] / self.wall_s,
            "query_p50_s": s["p50_s"],
            "query_tail_s": s["tail_s"],
            "query_tail_pct": s["tail_pct"],
            "query_n": s["n"],
        }


# -- bars ingest --------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs)


def _parquet_files(path: str) -> int:
    return sum(1 for _d, _s, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


# Per-layer job counters of the bars_ingest operations.
_JOB_COUNTER = {
    "full_load": "etl.run.jobs",
    "incremental_load": "etl.run.jobs",
    "commit": "versioned.commit_jobs",
    "point_read": "versioned.read_jobs",
    "scan_read": "versioned.read_jobs",
    "changes_read": "versioned.changes_jobs",
}


def _bar_rows(pdf) -> list[tuple]:
    """A bars frame as sorted wire-unit tuples (symbol, epoch ms, o, h,
    l, c in cents, volume, vw in cents, trades) to compare with the
    generator's expected state."""
    import pandas as pd

    ts_ms = (pd.to_datetime(pdf["ts"]).astype("int64") // 1_000_000).tolist()
    cents = {c: (pdf[c] * 100).round().astype("int64").tolist() for c in ("open", "high", "low", "close", "vwap")}
    vol, trades, syms = pdf["volume"].tolist(), pdf["trades"].tolist(), pdf["symbol"].tolist()
    return sorted(
        (syms[i], ts_ms[i], cents["open"][i], cents["high"][i], cents["low"][i], cents["close"][i], int(vol[i]),
         cents["vwap"][i], int(trades[i]))
        for i in range(len(pdf))
    )


def _state_rows(state: dict, sym: str | None = None) -> list[tuple]:
    return sorted((s, t, *bar) for (s, t), bar in state.items() if sym is None or s == sym)


def _state_agg(state: dict) -> list[tuple]:
    agg: dict[str, list[int]] = {}
    for (s, _t), bar in state.items():
        a = agg.setdefault(s, [0, 0])
        a[0] += 1
        a[1] += bar[3]
    return sorted((s, n, c) for s, (n, c) in agg.items())


class BarsIngest:
    """The reference's own dataflow on seeded 1-minute bars: a full and
    an incremental ``etl.run`` into a silver table, then a base commit
    and restatement commits into a versioned table keyed (symbol, ts)
    and partitioned by symbol, with a point read, a full-snapshot
    aggregate and a ``read_changes`` after every restatement. The round
    ends with the change-feed stream query."""

    KEYS = ("symbol", "ts")

    def __init__(self):
        self.ops = Ops()
        self.landing: bars_gen.Landing | None = None
        # (what, got, want): ``got`` and ``want`` are thunks run by check()
        self.outputs: list[tuple[str, object, object]] = []
        self.wall_s = 0.0
        self.rounds = 0
        self.ingest_rows = 0
        self.ingest_s = 0.0
        self.stored_ratio: list[float] = []

    def land(self, ctx: Ctx) -> None:
        self.landing = bars_gen.generate(os.path.join(ctx.work_dir, "landing"), ctx.seed)

    def warm_up(self, ctx: Ctx) -> None:
        """Register the change-feed source, nothing more. The ingest is a
        batch job that pays its JIT warm-up on every invocation, so the
        measured round starts from a cold JVM on purpose."""
        from us_stock_data_pipeline_spark.etl.cdf_stream import register_cdf_source

        register_cdf_source(ctx.spark)

    def _op(self, ctx: Ctx, kind: str, group: str, layer: str, fn):
        self.ops.start()
        t0 = time.perf_counter()
        out, jobs, totals = _traced_call(ctx, group, kind, layer, fn)
        seconds = time.perf_counter() - t0
        self.ops.add(kind, seconds)
        if ctx.tracer is not None and kind in _JOB_COUNTER:
            ctx.count(_JOB_COUNTER[kind], len(jobs))
            if kind == "commit":
                ctx.count("versioned.commit_stages", totals["exec.stages"])
        return out, seconds

    def _round(self, ctx: Ctx, out_dir: str) -> None:
        import argparse

        from pyspark.sql import functions as F

        from us_stock_data_pipeline_spark.etl import run as etl_run
        from us_stock_data_pipeline_spark.etl import versioned as V
        from us_stock_data_pipeline_spark.etl.bars import curate
        from us_stock_data_pipeline_spark.etl.sources import read_json_landing

        spark, L, tag = ctx.spark, self.landing, f"r{self.rounds}"
        silver = os.path.join(out_dir, "silver")
        vroot = os.path.join(out_dir, "versioned")
        expect = self.outputs.append

        def load(kind, landing_dir):
            args = argparse.Namespace(
                landing=landing_dir, out=silver, load_type=kind, partition_by="session,symbol", mode="append"
            )
            return self._op(ctx, f"{kind}_load", f"{tag}{kind}", "etl.run", lambda: etl_run.run(spark, args))

        full, full_s = load("full", L.full_dir)
        incr, incr_s = load("incremental", L.incr_dir)
        written = full["rows_written"] + incr["rows_written"]
        self.ingest_rows += written
        self.ingest_s += full_s + incr_s
        expect(("full load rows", lambda: full["rows_written"], lambda: L.full_keys))
        expect(("incremental load rows", lambda: incr["rows_written"], lambda: L.landed_keys - L.full_keys))
        expect(("silver rows", lambda: spark.read.parquet(silver).count(), lambda: L.landed_keys))

        def commit(df, expected):
            v, _ = self._op(
                ctx,
                "commit",
                f"{tag}c{expected}",
                "versioned",
                lambda: V.versioned_merge_upsert(spark, df, vroot, key_cols=self.KEYS, partition_cols=("symbol",)),
            )
            ctx.count("versioned.commit_retries", v - expected)
            return v

        def snapshot(version):
            return lambda: _bar_rows(V.read_versioned(spark, vroot, version).toPandas())

        cols = ["ts", "symbol", "open", "high", "low", "close", "volume", "vwap", "trades"]
        version = commit(spark.read.parquet(silver).select(*cols), 1)
        expect(("base snapshot", snapshot(version), lambda: _state_rows(L.state_after(0))))
        for k, c in enumerate(L.commits):
            batch = curate(read_json_landing(spark, c.path, etl_run.LANDED_SCHEMA))
            prev, version = version, commit(batch, version + 1)
            sym = c.symbols[k % len(c.symbols)]
            point, _ = self._op(
                ctx,
                "point_read",
                f"{tag}p{k}",
                "versioned",
                lambda: V.read_versioned(
                    spark, vroot, version, partition_filter=lambda pv: pv.get("symbol") == sym
                ).toPandas(),
            )
            expect((f"point read {sym} v{version}", lambda p=point: _bar_rows(p),
                    lambda n=k + 1, s=sym: _state_rows(L.state_after(n), s)))
            scan, _ = self._op(
                ctx,
                "scan_read",
                f"{tag}s{k}",
                "versioned",
                lambda: V.read_versioned(spark, vroot, version)
                .groupBy("symbol")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("close").alias("close_sum"))
                .toPandas(),
            )
            expect((f"scan v{version}",
                    lambda a=scan: sorted((r.symbol, int(r.n), round(r.close_sum * 100)) for r in a.itertuples()),
                    lambda n=k + 1: _state_agg(L.state_after(n))))
            changes, _ = self._op(
                ctx,
                "changes_read",
                f"{tag}x{k}",
                "versioned",
                lambda: V.read_changes(spark, vroot, prev, version, self.KEYS).count(),
            )
            expect((f"changes v{prev}..v{version}", lambda n=changes: n,
                    lambda n=k: bars_gen.changed_keys(L.state_after(n), L.state_after(n + 1))))
            if ctx.tracer is not None:
                with ctx.overhead():
                    t0 = time.perf_counter()
                    V.plan_snapshot_files(spark, vroot, version)
                    ctx.count("versioned.plan_snapshot_ms", (time.perf_counter() - t0) * 1000.0)
        expect(("head snapshot", snapshot(version), lambda: _state_rows(L.state_after(len(L.commits)))))

        sf_dir = os.path.join(ctx.testdata, SF)
        fn = registry_fn(CDF_STREAM_QUERY)
        feed, _ = self._op(ctx, "cdf_stream", f"{tag}f", "stream", lambda: fn(spark, sf_dir).toPandas())
        expect((CDF_STREAM_QUERY, lambda: check.frame_digest(feed),
                lambda: oracle_digest(sf_dir, [CDF_STREAM_QUERY])[CDF_STREAM_QUERY]))

        self.stored_ratio.append(_dir_bytes(vroot) / _dir_bytes(silver))
        if ctx.tracer is not None:
            ctx.count("etl.run.s", full_s + incr_s)
            ctx.count("etl.run.rows_written", written)
            ctx.count("etl.run.files_written", _parquet_files(silver))
            ctx.count("etl.run.watermark_dropped_rows", L.incr_rows - incr["rows_written"])
            ctx.count("versioned.manifest_bytes", _dir_bytes(os.path.join(vroot, "manifests")))
            ctx.count("versioned.commit_files_written", _parquet_files(os.path.join(vroot, "versions")))
            ctx.count("versioned.commit_bytes_written", _dir_bytes(os.path.join(vroot, "versions")))

    def run(self, ctx: Ctx, seconds: float) -> None:
        t0 = time.perf_counter()
        while True:
            self._round(ctx, os.path.join(ctx.work_dir, f"round{self.rounds}"))
            self.rounds += 1
            if time.perf_counter() - t0 >= seconds:
                break
        self.wall_s = time.perf_counter() - t0

    def check(self, ctx: Ctx) -> int:
        for what, got, want in self.outputs:
            g, w = got(), want()
            if g != w:
                show = (lambda x: x if isinstance(x, (int, tuple)) else f"{len(x)} rows")
                ctx.failures.append(f"{what}: got {show(g)}, want {show(w)}")
        return len(self.outputs)

    def metrics(self) -> dict:
        out = {"ingest_rows_per_s": self.ingest_rows / self.ingest_s}
        for kind in ("commit", "point_read", "scan_read", "changes_read"):
            out[f"{kind}_p50_s"] = statistics.median(self.ops.lat[kind])
        s = latency_summary(self.ops.lat["commit"])
        out.update(commit_tail_s=s["tail_s"], commit_tail_pct=s["tail_pct"], commit_n=s["n"])
        out["bytes_stored_per_user_byte"] = statistics.median(self.stored_ratio)
        out["landed_bytes"] = self.landing.bytes_landed
        out["landed_rows"] = self.landing.rows_landed
        return out
