"""The registry of the ``stream_registry`` workload: sweeps over the
query registry.

Each sweep calls every query of ``SWEEP`` on the seeded tables that
``tables.write_tables`` wrote: it builds the query's plan (calls the
registry function) and collects the result as Arrow, then releases
what the query persisted. The first sweep of a session is cold; the
later sweeps are warm. ``SWEEP`` takes five star-schema and event
queries of ``plans.queries.QUERIES`` that span its shapes (scan
aggregate, a six-way join, windowed last-by, pt-BR parse and format,
as-of join); five, so that a run stays within the benchmark's time
budget. The document and embedding queries read
tables the generator does not write.

Every result is compared with the query's DuckDB oracle SQL over the
same files, with ``tools/check_oracle.py``'s normalization, outside
the timed region.

The traced run splits each call into plan build and execution, counts
each query's Spark jobs, and times a null job (a one-row ``noop``
write) for the scheduling floor.
"""

from __future__ import annotations

import importlib.util
import os
import time
from statistics import median

import tables
from spans import Span, Tracer

SWEEP = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "monthly_last_by",
    "ptbr_roundtrip",
    "asof_click_view",
)
NULL_JOBS = 5


def _check_oracle(root: str):
    """``tools/check_oracle.py`` of the checkout, loaded by path."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class RegistrySweeps:
    """Sweeps the registry and checks each call."""

    def __init__(self, ctx, tracer: Tracer):
        import duckdb

        from etl_macropulse_br_spark.plans.queries import ORACLES

        self.ctx = ctx
        self.tracer = tracer
        self.dir = os.path.join(ctx.work, "tables")
        rows = tables.write_tables(self.dir, ctx.seed)
        self.input = {"rows": rows, "queries": len(SWEEP)}
        self.oracle = _check_oracle(ctx.root)
        con = duckdb.connect()
        con.execute("SET threads = 1")
        for t in rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        self.expected = {
            name: self._normal(con.execute(ORACLES[name]).fetch_arrow_table())
            for name in SWEEP
        }
        con.close()
        self._null_job_s = 0.0

    def _normal(self, table) -> tuple[list[str], list[tuple]]:
        cols, rows = self.oracle._arrow_rows(table)
        return sorted(cols), self.oracle.normalize(rows, cols)

    def null_job_s(self) -> float:
        """Median time of a null job (a one-row ``noop`` write): the
        scheduling floor under every job of a sweep. Timed once, after
        the sweeps."""
        if not self._null_job_s:
            spark, times = self.ctx.spark, []
            for _ in range(NULL_JOBS):
                t0 = time.perf_counter()
                spark.range(1).write.mode("overwrite").format("noop").save()
                times.append(time.perf_counter() - t0)
            self._null_job_s = median(times)
        return self._null_job_s

    def _call(self, name: str, traced: bool):
        """Build and collect one query; returns (result, seconds)."""
        from etl_macropulse_br_spark.plans.queries import QUERIES

        fn, spark = QUERIES[name], self.ctx.spark
        if not traced:
            t0 = time.perf_counter()
            result = fn(spark, self.dir).toArrow()
            return result, time.perf_counter() - t0
        with self.tracer.span(f"query.{name}") as q:
            with self.tracer.span("plan"):
                df = fn(spark, self.dir)
            with self.tracer.span("execute"):
                result = df.toArrow()
        return result, q.dur

    def sweep(self, traced: bool) -> dict:
        """One sweep; returns its measurements."""
        from etl_macropulse_br_spark.operators.util import unpersist_candidates

        results, call_s = {}, {}
        with self.tracer.span("registry", gc=traced) as root:
            for name in SWEEP:
                results[name], call_s[name] = self._call(name, traced)
                unpersist_candidates()
        for name in SWEEP:
            got = self._normal(results[name])
            self.ctx.op(got == self.expected[name], f"{name}: differs from its oracle")
        return {"wall_s": root.dur, "jobs": root.jobs, "span": root, "call_s": call_s}

    def layer_metrics(self, p: dict) -> dict[str, float]:
        """Per-layer metrics of one traced sweep."""
        root: Span = p["span"]
        queries = root.children
        null_job_s = self.null_job_s()

        def total(part):
            return sum(c.dur for q in queries for c in q.children if c.name == part)

        m = {
            "registry.plan_build_s": total("plan"),
            "registry.execute_s": total("execute"),
            "registry.jobs": root.jobs,
            "registry.null_job_s": null_job_s,
            "registry.scheduling_floor_s": root.jobs * null_job_s,
            "jvm.gc_s": root.gc_s,
            "trace.overhead_s": root.tracer_s,
        }
        m.update({q.name + ".s": q.dur for q in queries})
        return m
