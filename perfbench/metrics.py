"""Names and units of every metric the benchmark reports.

``BENCHMARK.json`` at the repository root declares the same lists
(checked by ``perfbench/tests/test_metrics.py``).
"""

from __future__ import annotations

from registry_wl import SWEEP

END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("cold_s", "s"),
    ("warm_s", "s"),
    ("op_p50_s", "s"),
]

PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("session.first_job_s", "s"),
    ("sources.read_csv_s", "s"),
    ("sources.read_csv_jobs", "count"),
    ("sources.extract_bcb_s", "s"),
    ("sources.extract_ibge_s", "s"),
    ("operators.silver.plan_s", "s"),
    ("operators.gold.plan_s", "s"),
    ("operators.summary.s", "s"),
    ("operators.summary.jobs", "count"),
    *[(f"sinks.{k}_s", "s") for k in ("bronze", "silver", "gold", "catalog")],
    *[(f"sinks.{k}_jobs", "count") for k in ("bronze", "silver", "gold", "catalog")],
    ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("sinks.catalog_fallbacks", "count"),
    ("pipeline.jobs", "count"),
    ("pipeline.self_s", "s"),
    ("rows.anp_in", "count"),
    ("rows.silver_anp", "count"),
    ("rows.gold_anp_monthly", "count"),
    ("silver.kept_ratio", "ratio"),
    ("registry.plan_build_s", "s"),
    ("registry.execute_s", "s"),
    ("registry.jobs", "count"),
    ("registry.null_job_s", "s"),
    ("registry.scheduling_floor_s", "s"),
    *[(f"query.{name}.s", "s") for name in SWEEP],
    ("stream.input_rows", "count"),
    ("stream.micro_batches", "count"),
    ("stream.startup_s", "s"),
    ("stream.add_batch_s", "s"),
    ("stream.query_planning_s", "s"),
    ("stream.commit_s", "s"),
    ("stream.trigger_p50_s", "s"),
    ("stream.state_rows", "count"),
    ("stream.state_memory_bytes", "bytes"),
    ("stream.rows_per_s", "1/s"),
    ("jvm.gc_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.coverage", "ratio"),
]
