"""The metric names the benchmark reports, with their units. BENCHMARK.json
lists the same names; ``tests/test_pb_contract.py`` keeps the two equal.

End-to-end metrics come from untraced runs and are reported by every
workload. Per-layer metrics come from traced runs; a layer a workload
does not exercise reads 0 there.
"""

from __future__ import annotations

END_TO_END = (
    ("setup_s", "s"),  # session start + warm-up pass
    ("driver_peak_rss_mb", "MB"),  # the driver Python process
    ("ops_per_s", "1/s"),  # completed operations / measured wall
    ("op_p50_s", "s"),  # median operation latency
)

PER_LAYER = (
    # session
    ("session.start_s", "s"),
    ("session.warm_s", "s"),
    # registry / queries: the Python build, fn()
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.build_share", "ratio"),
    # Catalyst, from QueryExecution.tracker()
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    # stage execution, from the status store, per job group
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.executor_run_ms", "ms"),
    ("exec.executor_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"),
    ("exec.input_bytes", "bytes"),
    ("exec.output_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.task_failures", "count"),
    ("exec.core_busy_ratio", "ratio"),
    # Arrow result fetch
    ("fetch.s", "s"),
    ("fetch.rows", "count"),
    # etl.run
    ("etl.run.s", "s"),
    ("etl.run.jobs", "count"),
    ("etl.run.rows_written", "count"),
    ("etl.run.files_written", "count"),
    ("etl.run.watermark_dropped_rows", "count"),
    # etl.versioned
    ("versioned.commit_jobs", "count"),
    ("versioned.commit_stages", "count"),
    ("versioned.commit_files_written", "count"),
    ("versioned.commit_bytes_written", "bytes"),
    ("versioned.commit_retries", "count"),
    ("versioned.plan_snapshot_ms", "ms"),
    ("versioned.manifest_bytes", "bytes"),
    ("versioned.read_jobs", "count"),
    ("versioned.changes_jobs", "count"),
    # etl.cdf_stream, from a StreamingQueryListener
    ("stream.triggers", "count"),
    ("stream.input_rows", "count"),
    ("stream.latest_offset_ms", "ms"),
    ("stream.get_batch_ms", "ms"),
    ("stream.query_planning_ms", "ms"),
    ("stream.add_batch_ms", "ms"),
    ("stream.wal_commit_ms", "ms"),
    ("stream.trigger_execution_ms", "ms"),
    # self time per layer in the trace: span minus its children; jobs are
    # Spark jobs, exec is the driver's time in an action outside them
    ("self.queries_s", "s"),
    ("self.catalyst_s", "s"),
    ("self.exec_s", "s"),
    ("self.jobs_s", "s"),
    ("self.fetch_s", "s"),
    ("self.etl.run_s", "s"),
    ("self.versioned_s", "s"),
    ("self.stream_s", "s"),
    ("self.check_s", "s"),
    # the trace itself
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.attributed_min_ratio", "ratio"),
    ("trace.unattributed_share", "ratio"),
    # memory: the whole process tree (driver Python, JVM, Python
    # workers), and the JVM's used heap at its peak
    ("mem.peak_rss_mb", "MB"),
    ("mem.jvm_heap_peak_mb", "MB"),
    # host noise
    ("host.steal_pct", "%"),
    ("host.loadavg_1m", "ratio"),
    ("host.nproc", "count"),
)
