"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap_small --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts one SparkSession in this
process (``local[nproc]``), sets it up and warms it, runs the workload
as a closed loop of whole rounds until ``--seconds`` have passed, checks
every output, and prints a one-line JSON result as the last line of
stdout: the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics. The full record of the run goes to stderr as one JSON line.
It exits 2 without a result when the engine or the fixture tables are
missing. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
ENGINE = "us_stock_data_pipeline_spark"
WORKLOADS = ("olap_small", "bars_ingest")


def parse(argv):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark and the engine write inside ``work`` and
    size the session to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
            ),
        }
    )


def _start_session():
    from us_stock_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the session, shut the JVM down and wait until it exits."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_workload(name: str):
    from perfbench.workloads import OLAP_SMALL, BarsIngest, QueryWorkload

    return QueryWorkload(OLAP_SMALL) if name == "olap_small" else BarsIngest()


def main(argv=None) -> int:
    args = parse(argv)
    testdata = os.path.join(ROOT, "perfbench", "fixtures")
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE}/ under {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(testdata, "sf0.01", "lineitem.parquet")):
        print(f"perfbench: no sf0.01 fixture tables under {testdata}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    _environment(work)
    os.chdir(work)
    try:
        record, result = _run(args, work, testdata)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, allow_nan=False), file=sys.stderr)
    print(result)
    return 0


def _run(args, work: str, testdata: str):
    from perfbench.measure import RssSampler, cpu_times, host_block, latency_summary, result_line
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.sparkmon import Tracer, jvm_heap_peak_mb, make_stream_listener
    from perfbench.workloads import Ctx

    t0 = time.perf_counter()
    import us_stock_data_pipeline_spark  # noqa: F401 -- registers every query

    import_s = time.perf_counter() - t0
    cpu0 = cpu_times()
    tracer = Tracer() if args.trace else None
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = _start_session()
            start_s = time.perf_counter() - t0
            listener = None
            if tracer is not None:
                listener = make_stream_listener()
                spark.streams.addListener(listener)
            ctx = Ctx(spark=spark, work_dir=work, seed=args.seed, testdata=testdata, tracer=tracer)
            wl = make_workload(args.workload)
            if hasattr(wl, "land"):
                wl.land(ctx)
            t0 = time.perf_counter()
            wl.warm_up(ctx)
            warm_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.run(ctx, args.seconds)
            run_wall = time.perf_counter() - t0
            peak_mb, driver_mb = rss.peak_mb, rss.driver_peak_mb
            jvm_heap_mb = jvm_heap_peak_mb(spark)
            t0 = time.perf_counter()
            if tracer is not None:
                with tracer.span("check", "check"):
                    checked = wl.check(ctx)
            else:
                checked = wl.check(ctx)
            check_s = time.perf_counter() - t0
            if listener is not None:
                time.sleep(1.0)  # the last progress events are still on the listener bus
                _stream_layers(ctx, listener)
    finally:
        if spark is not None:
            _stop_session(spark)
    host = host_block(cpu0, cpu_times())

    attempted = wl.ops.attempted
    failed = min(len(ctx.failures), attempted)
    op = latency_summary(wl.ops.all())
    e2e = {
        "setup_s": start_s + warm_s,
        "driver_peak_rss_mb": driver_mb,
        "ops_per_s": op["n"] / wl.wall_s,
        "op_p50_s": op["p50_s"],
    }
    units = dict(END_TO_END)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "rounds": wl.rounds,
        "measured_wall_s": wl.wall_s,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
        "peak_rss_mb": peak_mb,
        "jvm_heap_peak_mb": jvm_heap_mb,
        "op_tail_s": op["tail_s"],
        "op_tail_pct": op["tail_pct"],
        "op_n": op["n"],
        "error_ratio": failed / attempted,
        "outputs_checked": checked,
        "failures": ctx.failures[:20],
        "host": host,
        "import_s": import_s,
        "session_start_s": start_s,
        "warm_up_s": warm_s,
        "check_s": check_s,
        "workload_metrics": wl.metrics(),
        "op_latencies_s": wl.ops.lat,
    }
    if tracer is None:
        return record, result_line(failed == 0, attempted, failed, {k: (v, units[k]) for k, v in e2e.items()})
    layers = _layers(ctx, tracer, wl, start_s, warm_s, host, run_wall)
    layers["mem.peak_rss_mb"] = peak_mb
    layers["mem.jvm_heap_peak_mb"] = jvm_heap_mb
    record["layers"] = layers
    tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-s{args.seed}.jsonl"))
    out = {name: (layers.get(name, 0.0), unit) for name, unit in PER_LAYER}
    return record, result_line(failed == 0, attempted, failed, out)


def _stream_layers(ctx, listener) -> None:
    with listener.lock:
        triggers = list(listener.triggers)
    ctx.count("stream.triggers", len(triggers))
    for t in triggers:
        ctx.count("stream.input_rows", t["input_rows"])
        d = t["duration_ms"]
        for key, name in (
            ("latestOffset", "latest_offset_ms"),
            ("getBatch", "get_batch_ms"),
            ("queryPlanning", "query_planning_ms"),
            ("addBatch", "add_batch_ms"),
            ("walCommit", "wal_commit_ms"),
            ("triggerExecution", "trigger_execution_ms"),
        ):
            ctx.count(f"stream.{name}", d.get(key, 0))
        # A trigger is a child of the innermost span that ran it (a
        # query's build, or the stream operation). Its Spark jobs are
        # that span's children too, so the stream layer's self time
        # includes the jobs a trigger ran. The progress event reaches the
        # listener up to a second after the trigger ended.
        end = t["end_ms"]
        owners = [
            s for s in ctx.tracer.spans
            if s["layer"] != "jobs" and s["name"] != "trigger" and s["start_ms"] <= end <= s["end_ms"] + 1000
        ]
        owner = max(owners, key=lambda s: (s["start_ms"], s["id"]), default=None)
        ctx.tracer.add("trigger", "stream", end - d.get("triggerExecution", 0), end, owner)


def _layers(ctx, tracer, wl, start_s, warm_s, host, run_wall) -> dict:
    """The per-layer table of a traced run."""
    from perfbench.sparkmon import layer_self_s, self_times

    out = dict(ctx.layers)
    out["session.start_s"] = start_s
    out["session.warm_s"] = warm_s
    q = wl.ops.lat.get("query")
    if q:
        out["queries.build_share"] = out.get("queries.build_s", 0.0) / sum(q)
    out["exec.core_busy_ratio"] = out.get("exec.executor_run_ms", 0.0) / (run_wall * 1000.0 * host["nproc"])
    for layer, s in layer_self_s(tracer.spans).items():
        out[f"self.{layer}_s"] = s
    # Per query: the share of its perf_counter wall that the build,
    # Catalyst, Spark jobs and fetch account for. The rest is the
    # action's unattributed driver time (self.exec_s) plus clock skew.
    st = self_times(tracer.spans)
    attributed: dict[int, float] = {}
    for s in tracer.spans:
        if s["layer"] not in ("op", "exec"):
            attributed[s["op"]] = attributed.get(s["op"], 0.0) + st[s["id"]]
    roots = [s for s in tracer.spans if s["parent"] is None and s["layer"] == "op"]
    if roots:
        shares = [attributed.get(s["id"], 0.0) / s["attrs"]["wall_ms"] for s in roots]
        out["trace.attributed_min_ratio"] = min(shares)
        wall = sum(s["attrs"]["wall_ms"] for s in roots)
        out["trace.unattributed_share"] = 1.0 - sum(attributed.get(s["id"], 0.0) for s in roots) / wall
    out["trace.wall_s"] = run_wall
    out["host.steal_pct"] = host["steal_pct"]
    out["host.loadavg_1m"] = host["loadavg_1m"]
    out["host.nproc"] = host["nproc"]
    return out


if __name__ == "__main__":
    sys.exit(main())
