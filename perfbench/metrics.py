"""Metric names and units. BENCHMARK.json lists the same names; every
workload reports every metric (0 where a layer is not reached)."""

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.register_views_s": "s",
    "sources.load_table_calls": "count",
    "sources.scan_mb": "MB",
    "sources.scan_rows": "count",
    "sources.sink_mb": "MB",
    "operators.calls": "count",
    "catalog.build_s": "s",
    "catalog.action_s": "s",
    "catalog.build_jobs": "count",
    "catalog.jobs": "count",
    "catalog.stages": "count",
    "catalog.tasks": "count",
    "catalog.max_query_jobs": "count",
    "catalog.count_drift_queries": "count",
    "catalog.layout_builds": "count",
    "catalog.layout_hits": "count",
    "catalog.layout_hit_ratio": "ratio",
    "catalog.layout_build_s": "s",
    "catalog.persisted_mb": "MB",
    "streaming.query_s": "s",
    "plans.plan_ms": "ms",
    "plans.exchanges": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_kb": "kB",
    "spark.shuffle_read_kb": "kB",
    "spark.spill_kb": "kB",
    "spark.task_overhead_ms": "ms",
    "spark.busy_share": "ratio",
    "serve.analyze_ms": "ms",
    "serve.collect_ms": "ms",
    "serve.handler_ms": "ms",
    "serve.wait_ms": "ms",
    "serve.jobs_per_request": "count",
    "serve.status_4xx": "count",
    "serve.status_5xx": "count",
    "failed_share": "ratio",
    "trace.overhead_pct": "%",
}


def spark_layers(agg: dict, n_ops: int, wall_s: float, cores: int) -> dict:
    """Event-log totals of one measured window of ``n_ops`` operations,
    as per-operation Spark figures."""
    n = max(n_ops, 1)
    return {
        "sources.scan_mb": agg["input_bytes"] / 1e6,
        "sources.scan_rows": agg["input_records"],
        "sources.sink_mb": agg["output_bytes"] / 1e6,
        "spark.executor_run_ms": agg["executor_run_ms"] / n,
        "spark.executor_cpu_ms": agg["executor_cpu_ns"] / 1e6 / n,
        "spark.gc_ms": agg["gc_ms"] / n,
        "spark.shuffle_write_kb": agg["shuffle_write_bytes"] / 1e3 / n,
        "spark.shuffle_read_kb": agg["shuffle_read_bytes"] / 1e3 / n,
        "spark.spill_kb": agg["spill_bytes"] / 1e3 / n,
        "spark.task_overhead_ms": (agg["task_ms"] - agg["executor_run_ms"]) / agg["tasks"]
        if agg["tasks"] else 0.0,
        "spark.busy_share": agg["executor_run_ms"] / 1000 / (wall_s * cores) if wall_s else 0.0,
    }
