"""The benchmark's metric names and units (``BENCHMARK.json`` lists the
same; a self-test keeps the two in step)."""

#: End-to-end metrics, printed by every untraced run. Each workload
#: maps them onto its own unit of work (see README.md).
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput": "1/s",
    "peak_pss_mb": "MB",
}

#: Per-layer metrics, printed by every traced run. Times, counts and
#: bytes are means per operation (a drop, a query execution or a
#: micro-batch); ratios and maxima are over the run. A layer the
#: workload does not call reads 0.
PER_LAYER = {
    "session.start_ms": "ms",
    "queries.build_ms": "ms",
    "queries.action_ms": "ms",
    "cache.persisted_rdds": "count",
    "cache.release_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_ms": "ms",
    "spark.task_wait_ms": "ms",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.fetch_wait_ms": "ms",
    "spark.spill_bytes": "bytes",
    "spark.python_run_ms": "ms",
    "spark.python_start_ms": "ms",
    "spark.python_bytes": "bytes",
    "readers.input_bytes": "bytes",
    "readers.scan_amplification": "ratio",
    "operators.quality_ms": "ms",
    "operators.reject_frac": "ratio",
    "writers.sink_ms": "ms",
    "writers.jobs_per_sink": "count",
    "writers.files_written": "count",
    "writers.bytes_per_row": "bytes",
    "write_lock.acquires": "count",
    "write_lock.acquire_ms": "ms",
    "write_lock.debris_files": "count",
    "txn_log.commit_ms": "ms",
    "txn_log.versions": "count",
    "ledger_source.write_ms": "ms",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.backlog_files_max": "count",
    "streaming.gen_late_ms": "ms",
}
