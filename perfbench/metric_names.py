"""Every metric the benchmark reports, with its unit. BENCHMARK.json
lists the same names; ``test_perfbench.py`` keeps the two in step.

End-to-end metrics are generic across workloads, because every
workload reports every one of them. An operation is the workload's
unit of work: one registry query (builder call to sink done) on
registry_queries, one ETL job including its write on partition_etl.
``round_p50_s`` sums each distinct operation's median latency: the
median time of one pass over the workload (for registry_queries, the
headline set). ``op_tail_s`` is the mean latency of the slowest third
of the operations.
"""

END_TO_END = {
    "setup_s": "s",
    "round_p50_s": "s",
    "op_tail_s": "s",
}

PER_LAYER = {
    # set-up (all workloads)
    "session.get_spark_s": "s",
    "pyship.ship_s": "s",
    "sources.register_s": "s",
    "setup.warmup_s": "s",
    # plan construction in Python
    "catalog.load_table_s": "s",
    "queries.build_s": "s",
    "dataset.build_s": "s",
    "queries.build_jobs": "count",
    # Catalyst (QueryPlanningTracker phases of executed queries)
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    # execution (status store, attributed per operation by job group)
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.busy_share": "ratio",
    "exec.task_cpu_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.peak_execution_memory_bytes": "bytes",
    # the Python worker processes (CPU time read from /proc)
    "pyworker.cpu_s": "s",
    # shmr partition files
    "sources.scan_s": "s",
    "sources.write_s": "s",
    "sources.rows_read": "count",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.write_amplification": "ratio",
    # reference-exact record folds
    "compat.fold_s": "s",
    "compat.records": "count",
    # near-duplicate detection
    "dedup.minhash.candidate_pairs": "count",
    "dedup.minhash.verified_pairs": "count",
    "dedup.minhash.verify_yield": "ratio",
    # in-process caches
    "operators.training_pipeline.persisted_bytes": "bytes",
    # structured streaming (StreamingQueryListener, per trigger)
    "streaming.triggers": "count",
    "streaming.trigger_ms": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.getBatch_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.late_rows_dropped": "count",
    "streaming.backlog_files_max": "count",
    "streaming.generator_late_s_max": "s",
    "streaming.freshness_p50_s": "s",
    "streaming.freshness_tail_s": "s",
    # whole run
    "host.peak_rss_mb": "MB",
    "error_rate": "ratio",
    "host.sentinel_before_s": "s",
    "host.sentinel_after_s": "s",
    "trace.overhead_s": "s",
}

# Counts that must repeat exactly across two traced runs of the same
# code and seed (checked by check_counts.py).
EXACT_COUNTS = [
    "exec.jobs",
    "exec.stages",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "sources.files_written",
    "sources.bytes_written",
    "dedup.minhash.candidate_pairs",
    "dedup.minhash.verified_pairs",
]
