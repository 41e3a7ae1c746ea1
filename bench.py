"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
one JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "duckdb_total": ..., "ratio": ...}.

Methodology (symmetric: full execution, native-memory results,
neither engine pays Python materialization in the timed region):
- Schedule: TWO interleaved passes per engine (S1 D1 S2 D2) with
  the per-query, per-engine min taken across passes — the shared
  box's background noise arrives in multi-minute bursts that land
  on whichever engine's phase they overlap (measured: identical
  HEAD swung Spark 9.9->12.2 s while DuckDB simultaneously dropped
  5.7->4.9 s), and a burst must now hit both passes of the same
  engine, minutes apart, to survive. Pass totals are published so
  the min is auditable.
- Spark: per query, the plan is built ONCE (DataFrame plans are
  immutable; a resident service reuses them exactly like prepared
  statements — the Python-side build is 50-140 ms of Py4J
  round-trips that would otherwise be billed to every run), then
  TWO untimed warmup runs (absorb whole-stage codegen JIT for that
  plan shape; the DuckDB side gets the same two per-query warm
  runs) and min of 5 timed full executions into a noop sink (rows flow
  through every operator and are dropped; a count() would let
  Catalyst prune work). Queries that persist an intermediate (LSH
  candidates, BM25 tf) are excluded from plan reuse: they rebuild
  plan AND caches cold inside every timed run, so their number
  always covers the full pipeline. Stated asymmetry: DuckDB
  re-parses and
  re-optimizes its SQL inside every timed run (measured sub-ms for
  these queries); Spark re-pays JVM job scheduling per run
  (null_job_sec x jobs, published). Runs under the small-input
  session profile (deploy-time sizing for known-tiny inputs; see
  session.get_spark).
- DuckDB baseline: the SAME workload via each query's oracle SQL on
  the same parquet files, warm in-process connection, min of 5 runs
  of ``con.execute(sql).arrow()`` — full execution plus native
  (C++-side) Arrow materialization. A bare ``execute()`` is NOT
  enough: DuckDB defers projection-only pipelines until fetch
  (measured: a 600k-row regex-parse query "ran" in 3 ms), and the
  r2 bench's ``fetchall()`` charged DuckDB a Python-tuple
  conversion Spark never pays. Residual asymmetry, stated: DuckDB
  retains an Arrow buffer of the result, Spark's noop sink drops
  rows at the sink — a buffer-retention difference only; neither
  side pays Python-object conversion.
- Per-query Spark JOB counts are published (jobs_per_query, via job
  groups) so the fixed per-job scheduling floor (null_job_sec) can
  be audited against each query's overhead share.
- A with-plan-build companion is published per query and in total
  (``value_with_plan_build``): one run that pays Python-side plan
  construction plus execution with JIT warm — the framing the r2
  bench used — so the prepared-statement headline decomposes
  auditable instead of resting on the docstring's argument.

Published next to the Spark number every round so the ratio is
reproducible — no cold-start numbers on either side. Two ratios are
emitted: the per-query min-across-passes estimator (`ratio`,
one-sided-noise-sound but structurally favoring the noisier
engine) and `ratio_worst_pass` (most pessimistic same-pass pairing
of raw pass totals — the no-cherry-picking floor-to-ceiling
check), plus `loadavg_1m_start` / `loadavg_1m_end` so a reader can
correlate a bad worst-pass with external box load.

Skip the baseline (e.g. in smoke runs) with SPARK_GRAFT_NO_DUCKDB=1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The bench workload IS the declared correctness surface: every
# declared registry query, each timed on Spark and (via its oracle
# SQL) on DuckDB — no cherry-picking in either direction. A `--queries`
# subset (r15 — VERDICT r14 next #7) narrows a RUN for reproducible
# per-query A/B and floor decompositions; subset runs carry a
# "queries_subset" marker in the JSON so they can never be quoted as
# a full-workload replication.
_SUBSET: list[str] | None = None


def bench_queries() -> list[str]:
    from etl_macropulse_br_spark.plans.queries import QUERIES

    names = list(QUERIES)
    if _SUBSET is not None:
        return [n for n in names if n in _SUBSET]
    return names


def weak_query_names(
    timings: dict[str, float],
    excess: dict[str, float],
    duck_q: dict[str, float],
    excess_multiple: float = 3.0,
    absolute_bar_sec: float = 0.4,
    margin: float = 1.2,
) -> list[str]:
    """The bench's self-reporting weak-set rule (r15 — VERDICT r14
    next #5: `queries_excess_over_floor` existed but nothing
    consumed it). A query is WEAK when its compute excess over this
    deployment's per-job scheduling floor exceeds ``excess_multiple``
    times its DuckDB twin AND the query clears the absolute bar —
    i.e. a genuine compute gap big enough to matter, not job-launch
    overhead on a sub-100 ms query (which amortizes to nothing at
    real scale) and not a floor-dominated micro-query. The next
    props_struct_parse-shaped gap self-reports in the artifact
    instead of waiting for a reader to divide two columns.

    ``margin`` (r16 — VERDICT r15 next #3; renamed from the r16
    misnomer "hysteresis" per ADVICE r16 #3 — it is a stateless
    one-sided threshold bump, not state-carrying hysteresis): the
    excess must
    clear the threshold with a margin. In r15 the same code flagged
    `embedding_near_dups` in one citable run (excess 0.454 s vs a
    3x threshold of 0.453 s — over by ONE millisecond) and not in
    three others: a rule with a hard edge flaps between artifacts
    on measurement noise smaller than the run-to-run spread. A
    genuine compute gap (props_struct_parse ran 14x its twin before
    its r14/r15 certification) clears a 20% margin trivially; a
    boundary case within the margin is box noise, not a finding."""
    return sorted(
        n
        for n, d in duck_q.items()
        if d > 0
        and n in timings
        and timings[n] >= absolute_bar_sec
        and excess.get(n, 0.0) > margin * excess_multiple * d
    )


def warm_up(spark, sf_dir: str) -> None:
    """Untimed warm-up before any timed query: JVM, codegen, parquet
    reader init, the Python worker, a touch of every input table and
    each common physical shape. ``tools/ab_query.py`` and
    ``tools/scale_probe.py`` call it too, so their numbers compare
    with a bench row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_macropulse_br_spark.sources.files import TESTDATA_TABLES

    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _noop(batches):
        for pdf in batches:
            yield pdf

    spark.range(100).selectExpr("id").mapInPandas(
        _noop, "id long"
    ).count()
    # steady-state warmup: touch every input once (parquet footers +
    # page cache) and run each COMMON PHYSICAL SHAPE — window, join,
    # explode+hash aggregate, sort/top-k — so the first queries in
    # registry order measure steady-state codegen rather than C2
    # compilation of shared operator classes (measured: the
    # early-position LSH queries ran ~0.2-0.3s hotter purely from
    # position). Symmetric: the DuckDB side gets its own per-query
    # warm runs.
    for t in TESTDATA_TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy(F.col("doc_id") % 8).orderBy("doc_id")
    shapes = [
        d.select("doc_id", F.row_number().over(w).alias("rn")),
        d.alias("a").join(d.alias("b"), "doc_id"),
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", F.md5("tok").alias("h"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1))),
        d.orderBy(F.col("doc_id").desc()).limit(5),
        li.groupBy("l_returnflag").agg(
            F.sum("l_quantity"), F.avg("l_extendedprice")
        ),
    ]
    # three passes: C2 compiles shared operator classes in the
    # background — a single execution leaves the first timed queries
    # running partially-interpreted code (measured: the same query
    # 0.42s at registry position 1 vs 0.28s fully warm)
    for _ in range(3):
        for shape in shapes:
            shape.write.mode("overwrite").format("noop").save()


def best_of(
    spark, build, data_dir: str, n_runs: int, group: str
) -> tuple[float, float, bool]:
    """Warm min-of-``n_runs`` noop-sink seconds of the plan
    ``build(spark, data_dir)``.

    Returns ``(best_sec, jobs_per_run, persists)``: jobs are counted
    in job group ``group``, which only the timed runs use, and
    ``persists`` says whether the plan build registered a persisted
    intermediate. Every cache registered by then is released on
    return."""
    from etl_macropulse_br_spark.operators.util import (
        persisted_count,
        unpersist_candidates,
    )

    def run(df) -> None:
        # noop sink: executes the FULL plan (a count() would let
        # Catalyst prune the projected work away)
        df.write.mode("overwrite").format("noop").save()

    sc = spark.sparkContext
    sc.setJobGroup(f"{group}:warm", group)
    # plan built once (prepared-statement reuse — see module
    # docstring) and untimed warmup runs, symmetric with the DuckDB
    # side's warm runs (absorbs first-run codegen JIT: measured up
    # to 4s on the window-heavy plans)
    n_persisted_before = persisted_count()
    df = build(spark, data_dir)
    # plans that persist an intermediate (LSH candidate sets, BM25
    # tf) may NOT reuse plan or cache across timed runs — the warm
    # cache would shrink the timed number to a fraction of the
    # pipeline. They rebuild cold inside every run (plan build
    # billed) and release caches between runs. Detected by THIS
    # build registering a persisted frame (delta, not absolute
    # state).
    persists = persisted_count() > n_persisted_before
    # TWO untimed warm executions: the first compiles this plan's
    # generated code, the second lets C2 finish replacing it —
    # min-of-3 after one warm run still caught half-compiled code on
    # early-position queries.
    run(df)
    run(df)
    sc.setJobGroup(group, group)
    best = float("inf")
    for _ in range(n_runs):
        if persists:
            unpersist_candidates()
            t0 = time.perf_counter()
            run(build(spark, data_dir))
        else:
            t0 = time.perf_counter()
            run(df)
        best = min(best, time.perf_counter() - t0)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group)) / n_runs
    unpersist_candidates()
    return best, jobs, persists


def _spark_phase(
    sf_dir: str,
    n_runs: int,
    group_prefix: str,
    companion: bool,
) -> dict:
    """One full Spark measurement pass: fresh session, full warmup,
    per-query warm min-of-``n_runs``. Returns timings plus (pass 1
    only) job counts, the with-plan-build companion, and the null-job
    floor. Two passes exist because the box's background noise drifts
    in multi-minute bursts (see PLANS.md "Run-to-run noise floor"):
    a burst overlapping one pass inflates every query in it, and the
    per-query min across two passes separated by the DuckDB phase
    discards it — the same estimator min-of-N applies within a pass.
    """
    from etl_macropulse_br_spark.operators.util import unpersist_candidates
    from etl_macropulse_br_spark.plans.queries import QUERIES
    from etl_macropulse_br_spark.session import get_spark

    # The bench inputs are a few MB of parquet: run under the
    # small-input profile (static partitioning, AQE off). The cluster
    # profile's AQE barriers cost more than these stages run; at real
    # scale the default profile applies. See session.get_spark.
    spark = get_spark(app_name="bench", profile="small-input")
    warm_up(spark, sf_dir)

    sc = spark.sparkContext
    timings: dict[str, float] = {}
    jobs_per_query: dict[str, float] = {}
    timings_with_build: dict[str, float] = {}

    for name in bench_queries():
        fn = QUERIES[name]
        best, jobs, persists = best_of(
            spark, fn, sf_dir, n_runs, f"{group_prefix}:{name}"
        )
        timings[name] = round(best, 3)
        jobs_per_query[name] = round(jobs, 1)
        # with-plan-build companion (pass 1 only): one run that pays
        # Python-side plan construction (fn()) PLUS execution, JIT
        # already warm — the r2-comparable framing, published so the
        # prepared-statement methodology is auditable against it.
        # Persisting queries already rebuild plan+caches inside every
        # timed run, so their min IS the with-build number.
        if companion:
            if persists:
                timings_with_build[name] = timings[name]
            else:
                sc.setJobGroup(f"{group_prefix}:{name}:build", name)
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                timings_with_build[name] = round(
                    time.perf_counter() - t0, 3
                )
                unpersist_candidates()
        print(
            f"# {group_prefix} {name}: {timings[name]:.3f}s"
            f" ({jobs_per_query[name]} jobs)",
            file=sys.stderr,
        )
    sc.setJobGroup(f"{group_prefix}:idle", "idle")

    # Fixed per-job cost of this Spark deployment (scheduler + Py4J +
    # task launch for a 1-row plan). null_job_sec * total_jobs is the
    # hard floor under any local total here — it amortizes to nothing
    # at real data scale but bounds how close a local sub-second-query
    # bench can get to an in-process engine. Published so the ratio
    # reads honestly.
    null_best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).write.mode("overwrite").format("noop").save()
        null_best = min(null_best, time.perf_counter() - t0)

    # Stop the JVM before any DuckDB phase: a resident local[32]
    # Spark session (heap + 32 idle-but-scheduled threads) measurably
    # slows an in-process DuckDB run on the same box (observed up to
    # 20x on sort-heavy queries) — each engine gets the machine to
    # itself, like-for-like.
    spark.stop()
    return {
        "timings": timings,
        "jobs": jobs_per_query,
        "with_build": timings_with_build,
        "null_job_sec": round(null_best, 3),
    }


def main() -> None:
    global _SUBSET
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of registry queries to run "
        "(reproducible per-query A/B; the JSON carries a "
        "queries_subset marker)",
    )
    args = ap.parse_args()
    if args.queries:
        from etl_macropulse_br_spark.plans.queries import QUERIES

        wanted = [q.strip() for q in args.queries.split(",") if q.strip()]
        unknown = [q for q in wanted if q not in QUERIES]
        if unknown:
            ap.error(
                f"unknown queries {unknown} — valid names: "
                f"{', '.join(QUERIES)}"
            )
        _SUBSET = wanted

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    no_duck = bool(os.environ.get("SPARK_GRAFT_NO_DUCKDB"))

    # Interleaved two-pass schedule S1 D1 S2 D2 with per-query,
    # per-engine min across passes. Rationale (measured, r5): the
    # shared box's noise arrives in multi-minute bursts that inflate
    # whichever engine's phase they overlap — single-pass totals
    # swung 9.9 -> 12.2 s (Spark) while DuckDB simultaneously dropped
    # 5.7 -> 4.9 s on IDENTICAL code, i.e. the phases drift
    # anti-correlated and a one-shot ratio can read 1.7 or 2.5 for
    # the same HEAD. A burst would now have to hit BOTH passes of the
    # same engine, minutes apart, to survive the min. Pass 2 uses
    # min-of-3 (engine-symmetric within each pass) to bound wall
    # clock.
    load_1m, load_5m, _ = (round(x, 2) for x in os.getloadavg())
    load_start = load_1m
    # Replication load gate (r12 — VERDICT r11 next #7): the r11
    # headline-ratio spread (1.56 driver vs 1.75-1.77 judge) was
    # entirely the DuckDB denominator's box window. A run only
    # counts as a citable replication when the box was quiet at
    # START: 1-min load < 1.0 AND 5-min load < 2.0. A louder box
    # still produces the full JSON (the driver consumes it), but the
    # line carries "noisy_non_citable": true and a stderr warning —
    # such runs must not be quoted as replications (PLANS.md
    # "Bench replication protocol").
    citable = load_1m < 1.0 and load_5m < 2.0
    if not citable:
        print(
            f"# LOAD GATE FAILED: loadavg start 1m={load_1m} "
            f"5m={load_5m} (need 1m<1.0 and 5m<2.0) — this run is "
            "NOISY, NON-CITABLE as a bench replication",
            file=sys.stderr,
        )
    s1 = _spark_phase(sf_dir, 5, "bench1", companion=True)
    d1 = {} if no_duck else duckdb_baseline(sf_dir, 5)
    s2 = _spark_phase(sf_dir, 3, "bench2", companion=False)
    d2 = {} if no_duck else duckdb_baseline(sf_dir, 3)

    names = bench_queries()
    timings = {
        n: min(s1["timings"][n], s2["timings"][n]) for n in names
    }
    total = round(sum(timings.values()), 3)
    # Per-query floor decomposition (r14 — VERDICT r13 next #3):
    # time minus this deployment's fixed per-job scheduling cost
    # (jobs x null_job_sec), i.e. the part of each query's local
    # number that is COMPUTE rather than job-launch overhead. A
    # query whose Spark/DuckDB ratio is large but whose excess is
    # comparable to the DuckDB time is floor-dominated — the gap
    # amortizes to nothing at real data scale; a query whose
    # EXCESS dwarfs its DuckDB twin has a genuine compute gap.
    excess = {
        n: round(
            max(
                0.0,
                timings[n]
                - s1["jobs"].get(n, 0.0) * s1["null_job_sec"],
            ),
            3,
        )
        for n in names
    }

    # Key ORDER inside the one-line JSON (r17 — VERDICT r16 next #6):
    # headline scalars first, per-query maps LAST. BENCH_r15's line
    # was captured truncated by the driver's tail window and the
    # whole artifact parsed to null, silently voiding a round of
    # round-over-round comparison. A truncated line is unparseable
    # either way, but with the scalars in the first ~300 bytes any
    # reader (or human) recovering the head of the line gets the
    # headline numbers; the 51-entry maps ride at the end where a
    # tail cut costs the least. Same keys, same values — additions
    # of nothing; ordering only.
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "spark_pass_totals": [
            round(sum(s["timings"].values()), 3) for s in (s1, s2)
        ],
        # companion total where every query pays Python plan build +
        # one execution (JIT warm): the number the r2 bench would
        # have produced, so the reused-plan headline decomposes
        # auditable.
        "value_with_plan_build": round(
            sum(s1["with_build"].values()), 3
        ),
        "null_job_sec": s1["null_job_sec"],
        "total_jobs": round(sum(s1["jobs"].values()), 1),
        # fixed-cost floor under the Spark total on THIS deployment:
        # the measured per-job scheduling cost x total jobs — pure
        # overhead on sub-second local queries that amortizes to
        # nothing at real data scale. Published first-class so the
        # headline ratio's fixed component is auditable at a glance
        # (r8; previously a PLANS.md footnote).
        "estimated_floor_sec": round(
            s1["null_job_sec"] * sum(s1["jobs"].values()), 3
        ),
        # 1-minute load averages at bench START (pre-s1: external
        # load only) and END (inflated by the bench itself) — the
        # start number is the one that correlates a bad worst-pass
        # with external box load; the min-estimator absorbs load,
        # the worst-pass number deliberately does not
        "loadavg_1m_start": load_start,
        "loadavg_5m_start": load_5m,
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
        # the replication gate's verdict for THIS run (see above):
        # false ⇒ the numbers are recorded but must not be cited as
        # a bench replication
        "load_gate_citable": citable,
        "sinks": "spark: noop write (full execution, rows dropped); "
        "duckdb: execute().arrow() (full execution, native Arrow "
        "result); python-object conversion charged to neither",
    }
    if _SUBSET is not None:
        # subset runs are A/B tools, never full-workload replications
        out["queries_subset"] = names

    if not no_duck:
        duck_q = {
            n: min(d1["queries"][n], d2["queries"][n])
            for n in d1["queries"]
        }
        duck_total = round(sum(duck_q.values()), 3)
        out["duckdb_total"] = duck_total
        out["duckdb_pass_totals"] = [d1["total"], d2["total"]]
        out["ratio"] = (
            round(total / duck_total, 2) if duck_total else None
        )
        ratios = sorted(
            timings[n] / dv
            for n, dv in duck_q.items()
            if n in timings and dv
        )
        if ratios:
            out["median_query_ratio"] = round(
                ratios[len(ratios) // 2], 2
            )
        t_ex = total - timings.get("embedding_near_dups", 0.0)
        d_ex = duck_total - duck_q.get("embedding_near_dups", 0.0)
        if d_ex:
            out["ratio_excl_embedding_near_dups"] = round(
                t_ex / d_ex, 2
            )
        # The headline `ratio` uses per-query min across passes — a
        # one-sided-noise estimator that structurally favors the
        # NOISIER engine (Spark's passes spread wider than DuckDB's
        # here). Publish the worst same-pass total ratio alongside so
        # the estimator choice is auditable at a glance: this is the
        # most pessimistic pairing of raw, same-schedule pass totals
        # with no cross-pass cherry-picking.
        if d1["total"] and d2["total"]:
            out["ratio_worst_pass"] = round(
                max(
                    sum(s1["timings"].values()) / d1["total"],
                    sum(s2["timings"].values()) / d2["total"],
                ),
                2,
            )
        # self-reporting weak set (r15 — VERDICT r14 next #5): the
        # floor decomposition now CLASSIFIES, not just publishes
        out["weak_queries"] = weak_query_names(timings, excess, duck_q)

    if not citable:
        out["noisy_non_citable"] = True
    # per-query maps LAST (ordering note above `out`): everything
    # after this point is the bulk a tail truncation would eat first
    out["queries"] = timings
    out["jobs_per_query"] = s1["jobs"]
    out["queries_with_plan_build"] = s1["with_build"]
    out["queries_excess_over_floor"] = excess
    if not no_duck:
        out["duckdb_queries"] = duck_q
    line = json.dumps(out)
    # belt-and-braces companion (same VERDICT item): mirror the JSON
    # to a file so a stdout-capture truncation can never void the
    # artifact — opt-in via env so default runs write nothing.
    mirror = os.environ.get("SPARK_GRAFT_BENCH_JSON")
    if mirror:
        with open(mirror, "w") as fh:
            fh.write(line + "\n")
    print(line)


def duckdb_baseline(sf_dir: str, n_runs: int = 5) -> dict:
    """Warm min-of-``n_runs`` DuckDB timings of the same workload
    (each query's oracle SQL over the same parquet). ``.arrow()``
    forces full execution (bare ``execute()`` defers projection-only
    pipelines) and materializes natively; Python-object conversion
    is excluded — symmetric with Spark's noop sink (module
    docstring)."""
    import duckdb

    from etl_macropulse_br_spark.plans.queries import ORACLES
    from etl_macropulse_br_spark.sources.files import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    timings: dict[str, float] = {}
    for name in bench_queries():
        sql = ORACLES.get(name)
        if sql is None:
            continue
        con.execute(sql).fetchall()  # warm (compile + page cache)
        con.execute(sql).arrow()  # second warm, symmetric with Spark
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.perf_counter()
            con.execute(sql).arrow()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"# duckdb {name}: {timings[name]:.3f}s", file=sys.stderr)
    return {"total": round(sum(timings.values()), 3), "queries": timings}


if __name__ == "__main__":
    main()
