"""Workload ``pipeline_anp``: the paper's medallion pipeline.

Each pass calls ``run_pipeline`` on the seeded ANP CSV with stubbed
BCB/IBGE fetch, into a fresh ``data_dir`` and a fresh catalog database
whose location is a directory of its own, so no pass finds the tables
or files of another. Pass 0 is the cold run of a fresh session; the
later passes are warm. Each pass's outputs are read back and checked
against the generator's truth outside the timed region.

The workload wraps the layer functions that ``plans.pipeline`` calls.
Every run times each sink call (an operation for ``op_p50_s``); the
traced run also opens a span around each layer call.
"""

from __future__ import annotations

import os
import shutil

import anp
from common import dir_bytes
from spans import Span, Tracer, totals

ROWS = 100_000

# plans.pipeline attribute -> layer span name
PIPELINE_CALLS = {
    "read_csv_sep_fallback": "sources.read_csv",
    "extract_bcb_many": "sources.extract_bcb",
    "extract_ibge_uf_dim": "sources.extract_ibge",
    "to_silver_bcb": "operators.silver",
    "to_silver_anp": "operators.silver",
    "enrich_with_uf_dim": "operators.silver",
    "build_gold_metrics": "operators.gold",
    "build_summary_text": "operators.summary",
    "save_bronze": "sinks.bronze",
    "save_silver": "sinks.silver",
    "write_parquet_partitioned": "sinks.gold",
    "write_summary": "sinks.gold",
    "load_table_replace": "sinks.catalog",
}
CATALOG_TABLES = (
    "silver_bcb_sgs",
    "silver_anp_prices",
    "dim_uf",
    "gold_bcb_monthly",
    "gold_anp_monthly",
)
SINKS = ("bronze", "silver", "gold", "catalog")


class PipelineWorkload:
    name = "pipeline_anp"
    # the cold run and one warm one: a warm run costs ~10 s, a cold
    # one ~23 s, and all of the benchmark's runs must fit its time
    # budget
    min_passes = 2

    def __init__(self, ctx, tracer: Tracer):
        self.ctx = ctx
        self.tracer = tracer
        inputs = os.path.join(ctx.work, "inputs")
        self.csv = os.path.join(inputs, "anp.csv")
        self.truth = anp.write_anp_csv(self.csv, ROWS, ctx.seed)
        self.run_cfg, self.series_cfg = anp.write_configs(inputs, self.csv)
        self.fetch = anp.StubFetch(ctx.seed)
        ctx.facts["input"] = {
            "anp_rows": self.truth.rows,
            "anp_bytes": self.truth.bytes,
            "bcb_series": sum(1 for s in anp.BCB_SERIES if s[2] != "0"),
            "days": anp.DAYS,
        }
        self._anp_silver = 0  # id() of this pass's enriched ANP frame
        self.materializer = ""
        self._wrap()

    # -- tracing ----------------------------------------------------
    def _wrap(self) -> None:
        from etl_macropulse_br_spark.operators import util
        from etl_macropulse_br_spark.plans import pipeline

        for attr, layer in PIPELINE_CALLS.items():
            note = None
            if layer.startswith("sinks."):
                note = self._note_sink
            elif attr == "enrich_with_uf_dim":
                note = self._note_anp_silver
            self.tracer.wrap(pipeline, attr, layer, note)
        # run_pipeline imports register_persisted from operators.util
        # at call time, so the module attribute is what it calls
        self.tracer.wrap(util, "register_persisted", "operators.silver")

    def _note_anp_silver(self, sp: Span, result, *args, **kwargs) -> None:
        # persist() returns the frame itself, so this id is the cached
        # ANP silver the sinks receive
        self._anp_silver = id(result)

    def _note_sink(self, sp: Span, result, *args, **kwargs) -> None:
        # the first sink handed the persisted ANP silver materializes
        # it, so that sink carries the CSV scan, parse and dedup
        df, where = args[1:3] if sp.name == "sinks.catalog" else args[:2]
        if not self.materializer and id(df) == self._anp_silver:
            self.materializer = f"{sp.name}:{os.path.basename(str(where))}"

    # -- one pass ---------------------------------------------------
    def run_pass(self, i: int, traced: bool) -> dict:
        """One ``run_pipeline`` call; returns its measurements."""
        from etl_macropulse_br_spark.operators.util import unpersist_candidates
        from etl_macropulse_br_spark.plans import pipeline

        spark = self.ctx.spark
        base = os.path.join(self.ctx.work, f"pass{i}")
        warehouse = os.path.join(base, "warehouse")
        db = f"perfbench_pass{i}"
        spark.sql(f"CREATE DATABASE {db} LOCATION '{warehouse}'")
        spark.catalog.setCurrentDatabase(db)
        data_dir = os.path.join(base, "data")
        self._anp_silver = 0
        self.materializer = ""
        self.tracer.calls = []
        with self.tracer.span("pipeline", gc=traced) as root:
            result = pipeline.run_pipeline(
                spark,
                run_config_path=self.run_cfg,
                series_config_path=self.series_cfg,
                data_dir=data_dir,
                fetch=self.fetch,
            )
        out = {
            "wall_s": root.dur,
            "jobs": root.jobs,
            "span": root,
            "sink_s": [s for n, s in self.tracer.calls if n.startswith("sinks.")],
        }
        out.update(self._check(result.summary_text, data_dir, db))
        out["bytes"], out["files"] = dir_bytes(data_dir, warehouse)
        out["materializer"] = self.materializer
        unpersist_candidates()
        spark.catalog.setCurrentDatabase("default")
        shutil.rmtree(base, ignore_errors=True)
        return out

    def _check(self, summary: str, data_dir: str, db: str) -> dict:
        """Read the written files back with pyarrow, a reader of its own
        and one that starts no Spark job, and compare with the truth."""
        import pyarrow.dataset as ds

        def files(*parts, **kw):
            return ds.dataset(os.path.join(data_dir, *parts), format="parquet", **kw)

        g = files("gold", "gold_anp_monthly", partitioning="hive").to_table().to_pydict()
        gold = list(
            zip(g["uf_sigla"], g["product"], map(str, g["month"]), g["avg_price"])
        )
        silver = files("silver", "anp_prices").count_rows()
        anp_in = files("bronze", "anp_raw").count_rows()
        managed = {
            t.name
            for t in self.ctx.spark.catalog.listTables(db)
            if not t.isTemporary and t.tableType == "MANAGED"
        }
        fallbacks = sum(1 for t in CATALOG_TABLES if t not in managed)
        errors = anp.check_outputs(self.truth, silver, gold, summary)
        if anp_in != self.truth.rows:
            errors.append(f"bronze anp rows {anp_in} != {self.truth.rows}")
        if fallbacks:
            errors.append(f"{fallbacks} catalog tables fell back to temp views")
        self.ctx.op(not errors, "; ".join(errors))
        return {
            "anp_in": anp_in,
            "silver_anp": silver,
            "gold_anp_monthly": len(gold),
            "catalog_fallbacks": fallbacks,
        }

    # -- metrics ----------------------------------------------------
    @staticmethod
    def layer_metrics(p: dict) -> dict[str, float]:
        """Per-layer metrics of one traced pass."""
        root: Span = p["span"]
        t = totals(root)

        def s(name):
            return t.get(name, (0.0, 0))[0]

        def j(name):
            return t.get(name, (0.0, 0))[1]

        m = {
            "sources.read_csv_s": s("sources.read_csv"),
            "sources.read_csv_jobs": j("sources.read_csv"),
            "sources.extract_bcb_s": s("sources.extract_bcb"),
            "sources.extract_ibge_s": s("sources.extract_ibge"),
            "operators.silver.plan_s": s("operators.silver"),
            "operators.gold.plan_s": s("operators.gold"),
            "operators.summary.s": s("operators.summary"),
            "operators.summary.jobs": j("operators.summary"),
            "sinks.bytes_written": p["bytes"],
            "sinks.files_written": p["files"],
            "sinks.catalog_fallbacks": p["catalog_fallbacks"],
            "pipeline.jobs": root.jobs,
            "pipeline.self_s": root.self_s,
            "rows.anp_in": p["anp_in"],
            "rows.silver_anp": p["silver_anp"],
            "rows.gold_anp_monthly": p["gold_anp_monthly"],
            "silver.kept_ratio": p["silver_anp"] / p["anp_in"],
            "jvm.gc_s": root.gc_s,
            "trace.overhead_s": root.tracer_s,
        }
        for k in SINKS:
            m[f"sinks.{k}_s"] = s(f"sinks.{k}")
            m[f"sinks.{k}_jobs"] = j(f"sinks.{k}")
        # the layer spans over the run's wall time; the rest is the
        # pipeline's own time (a call no wrapper covers) and the tracer
        m["trace.coverage"] = sum(v[0] for v in t.values()) / root.dur
        return m

    @staticmethod
    def ops(passes: list[dict]) -> list[float]:
        """Per-operation latencies: one operation is one sink call."""
        return [s for p in passes for s in p["sink_s"]]

    def report(self, passes: list[dict]) -> dict[str, float]:
        """Workload-specific figures for the stderr record."""
        return {
            "stored_bytes_per_input_byte": passes[-1]["bytes"] / self.truth.bytes,
            "jobs_per_run": passes[-1]["jobs"],
            # traced passes only
            "silver_materialized_by": next(
                (p["materializer"] for p in passes if p["materializer"]), ""
            ),
        }
