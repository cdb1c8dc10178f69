"""Names, units and directions of every metric the benchmark prints.

``BENCHMARK.json`` at the repository root lists the same metrics; a
test keeps the two in step.
"""

from __future__ import annotations

#: (name, unit, better, bound) — printed by untraced runs
#: Bounds are the largest allowed: on a shared 4-core virtual machine
#: the same seed run back to back gives op_p50_s from 0.31 to 0.41 s on
#: ``olap_interactive``, as the same work takes up to 15% more CPU time
#: and the hypervisor steals up to 2.5 s of a 12 s window.  The op
#: latency tail is not among them: a run measures ~30 ops, too few for
#: a p95 with ten samples beyond it, so it is a run descriptor.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("rows_in_per_s", "rows/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
)

#: module layers registry keys are attributed to, by fn.__module__
EXEC_LAYERS = ("operators", "llm", "functions", "quality", "udfs")
EXEC_METRICS = (
    ("plan_s", "s", "lower"),
    ("exec_task_s", "s", "lower"),
    ("fetch_s", "s", "lower"),
    ("tasks", "count", "lower"),
    ("input_bytes", "B", "lower"),
    ("shuffle_write_bytes", "B", "lower"),
    ("gc_s", "s", "lower"),
    ("cached_mb", "MB", "lower"),
)

#: (name, unit, better) — printed by traced runs
PER_LAYER = (
    ("session.get_spark_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("session.load_table_calls", "count", "lower"),
    ("session.load_table_memo_hit_ratio", "ratio", "higher"),
    ("registry.build_s", "s", "lower"),
    ("registry.build_share", "ratio", "lower"),
    ("registry.py4j_calls_per_op", "count", "lower"),
    ("registry.eager_jobs", "count", "lower"),
    *((f"{layer}.{m}", unit, better) for layer in EXEC_LAYERS for m, unit, better in EXEC_METRICS),
    ("plans.compile_s", "s", "lower"),
    ("sources.write_s", "s", "lower"),
    ("sources.bytes_written", "B", "lower"),
    ("sources.files_written", "count", "lower"),
    ("sources.write_amp", "ratio", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_p50_s", "s", "lower"),
    ("streaming.plan_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.commit_s", "s", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mem_bytes", "B", "lower"),
    ("failed_ratio", "ratio", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def layer_of(module: str) -> str:
    """``etl_builder_spark.llm.dedup`` → ``llm``; ``etl_builder_spark.udfs`` → ``udfs``."""
    parts = module.split(".")
    return parts[1] if len(parts) > 1 else parts[0]
