"""Spark-side observation from outside the engine: job groups, the
status store, the Catalyst phase tracker, stream progress, and the
span recorder of the traced run.

Everything here reads counters Spark already keeps; nothing patches the
engine. The untraced run uses only ``job_group`` (one local property
per operation), so the end-to-end figures carry no status-store reads.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

STAGE_FIELDS = {
    # per-layer name -> (StageData accessor, scale to the reported unit)
    "exec.executor_run_ms": ("executorRunTime", 1.0),
    "exec.executor_cpu_ms": ("executorCpuTime", 1e-6),
    "exec.gc_ms": ("jvmGcTime", 1.0),
    "exec.input_bytes": ("inputBytes", 1.0),
    "exec.output_bytes": ("outputBytes", 1.0),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "exec.spill_bytes": ("diskBytesSpilled", 1.0),
    "exec.task_failures": ("numFailedTasks", 1.0),
    "exec.tasks": ("numTasks", 1.0),
}


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag every Spark job this thread starts inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


class StatusReader:
    """Reads jobs and stages of a job group from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            info = self.sc.statusTracker().getJobInfo(jid)
            out.append(
                {
                    "job_id": jid,
                    "start_ms": _opt_ms(jd.submissionTime()),
                    "end_ms": _opt_ms(jd.completionTime()),
                    "stage_ids": list(info.stageIds) if info else [],
                }
            )
        return out

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        """Sums of the stage counters over the stages that ran (skipped
        stages have no attempt and count for nothing)."""
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        tot["exec.stages"] = 0.0
        seen = set()
        for j in jobs:
            for sid in j["stage_ids"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 -- py4j error: skipped or evicted stage
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["exec.stages"] += 1
                for name, (acc, scale) in STAGE_FIELDS.items():
                    tot[name] += float(getattr(sd, acc)()) * scale
        tot["exec.jobs"] = float(len(jobs))
        return tot


def catalyst_phases(df) -> dict[str, tuple[float, float]]:
    """Phase -> (start, end) epoch ms of the plan ``df`` last executed,
    from ``QueryExecution.tracker()``, for the analysis, optimization
    and planning phases that ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            out[phase] = (float(opt.get().startTimeMs()), float(opt.get().endTimeMs()))
    return out


def jvm_heap_peak_mb(spark) -> float:
    """Peak used JVM heap of the driver's executor, from the status
    store's peak executor metrics (0 before the first heartbeat)."""
    peak = 0.0
    executors = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    for i in range(executors.size()):
        m = executors.apply(i).peakMemoryMetrics()
        if m.isDefined():
            peak = max(peak, float(m.get().getMetricValue("JVMHeapMemory")))
    return peak / 2**20


def make_stream_listener():
    """A StreamingQueryListener keeping every trigger's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class TriggerLog(StreamingQueryListener):
        def __init__(self):
            self.triggers: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.triggers.append(
                    {
                        "end_ms": time.time() * 1000.0,
                        "input_rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs or {}),
                    }
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return TriggerLog()


# -- traced run ---------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written out at the end. A span is
    (op id, span id, parent id, name, layer, start ms, end ms, attrs);
    every span of one operation carries the operation's id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    def add(self, name: str, layer: str, start_ms: float, end_ms: float, parent: dict | None, **attrs) -> dict:
        span = {
            "op": parent["op"] if parent else None,
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": layer,
            "start_ms": start_ms,
            "end_ms": end_ms,
            "attrs": attrs,
        }
        if span["op"] is None:
            span["op"] = span["id"]
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = self.add(name, layer, time.time() * 1000.0, 0.0, parent, **attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s["end_ms"] = time.time() * 1000.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its children
    cover (children clipped to the parent's interval)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = _union_ms(
            [
                (max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                for c in kids.get(s["id"], [])
                if min(hi, c["end_ms"]) > max(lo, c["start_ms"])
            ]
        )
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def layer_self_s(spans: list[dict]) -> dict[str, float]:
    """Total self time per layer, in seconds."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]] / 1000.0
    return out
