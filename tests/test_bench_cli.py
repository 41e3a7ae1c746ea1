"""Pins for bench.py (r15): the self-reporting weak-set rule
(VERDICT r14 next #5), the ``--queries`` subset flag (next #7) and
tools/ab_query.py's name checks — pure-function and subprocess tests,
no Spark session — plus the shared timing core ``best_of`` on tiny
frames. The measured numbers themselves are covered by the per-round
BENCH artifacts."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_weak_query_rule_flags_genuine_compute_gaps():
    """WEAK = excess-over-floor > 3x the DuckDB twin AND the query
    clears the 0.4 s absolute bar. Floor-dominated micro-queries and
    queries that beat or track DuckDB never flag."""
    timings = {
        # the props_struct_parse shape: 17x its twin, but under the
        # absolute bar -> watched, NOT weak (matches the r14 verdict
        # treatment: certified compute-bound, kept)
        "props_like": 0.27,
        # a genuine gap: 1.2 s where DuckDB takes 0.1 s, excess 1.0
        "slow_parse": 1.2,
        # floor-dominated: high RATIO but excess ~0 after jobs*null
        "tiny": 0.09,
        # big but healthy: 0.9 s vs DuckDB 0.7 s
        "heavy_ok": 0.9,
    }
    excess = {
        "props_like": 0.25,
        "slow_parse": 1.0,
        "tiny": 0.005,
        "heavy_ok": 0.84,
    }
    duck = {
        "props_like": 0.015,
        "slow_parse": 0.1,
        "tiny": 0.008,
        "heavy_ok": 0.7,
    }
    assert bench.weak_query_names(timings, excess, duck) == [
        "slow_parse"
    ]
    # zero/missing DuckDB twins never divide-by-zero or flag
    assert bench.weak_query_names(
        {"a": 9.9}, {"a": 9.9}, {"a": 0.0, "b": 0.1}
    ) == []


def test_weak_query_rule_has_margin_at_the_boundary():
    """r16 (VERDICT r15 next #3): the rule must not flap on
    measurement noise. Regression case = the exact r15 boundary:
    `embedding_near_dups` at 0.473 s, excess 0.454 s, DuckDB twin
    0.151 s — over the raw 3x threshold (0.453 s) by ONE
    millisecond in one citable run and under it in three others.
    With the 1.2x margin the boundary case does NOT flag; an excess
    that clears the margin (> 3.6x the twin) still does. (r17 —
    ADVICE r16 #3: the parameter was renamed hysteresis -> margin;
    it is a stateless one-sided threshold bump, not hysteresis.)"""
    timings = {"embedding_near_dups": 0.473, "genuine_gap": 0.473}
    excess = {"embedding_near_dups": 0.454, "genuine_gap": 0.454}
    duck = {"embedding_near_dups": 0.151, "genuine_gap": 0.100}
    assert bench.weak_query_names(timings, excess, duck) == [
        "genuine_gap"
    ]
    # margin=1.0 reproduces the old hard-edge rule (both flag)
    assert bench.weak_query_names(
        timings, excess, duck, margin=1.0
    ) == ["embedding_near_dups", "genuine_gap"]


def test_bench_queries_subset_preserves_registry_order():
    from etl_macropulse_br_spark.plans.queries import QUERIES

    names = list(QUERIES)
    assert bench.bench_queries() == names  # no subset: full registry
    try:
        bench._SUBSET = [names[3], names[1]]  # caller order scrambled
        assert bench.bench_queries() == [names[1], names[3]]
    finally:
        bench._SUBSET = None


def test_bench_cli_rejects_unknown_query_names():
    """The flag fails fast with the valid names — a typo'd A/B run
    must not silently bench an empty workload."""
    proc = subprocess.run(
        [sys.executable, "bench.py", "--queries", "no_such_query"],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "no_such_query" in proc.stderr
    assert "q1_pricing_summary" in proc.stderr  # names the valid set


def _ab_query(*args):
    return subprocess.run(
        [sys.executable, "tools/ab_query.py", *args],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=120,
    )


def test_ab_query_rejects_unknown_names_before_spark_starts():
    """One bad name among good ones fails the whole run up front,
    naming it and the valid set — not after minutes of warm-up."""
    proc = _ab_query("q1_pricing_summary", "no_such_query")
    assert proc.returncode != 0
    assert "no_such_query" in proc.stderr
    assert "docs_near_dups" in proc.stderr  # names the valid set
    # no JVM was started: Spark's start-up banner is absent
    assert "sc.setLogLevel" not in proc.stderr
    assert proc.stdout == ""


def test_ab_query_without_names_is_a_usage_error():
    proc = _ab_query()
    assert proc.returncode != 0
    assert "usage" in proc.stderr


def test_ab_query_list_prints_the_registry():
    from etl_macropulse_br_spark.plans.queries import QUERIES

    proc = _ab_query("--list")
    assert proc.returncode == 0
    assert proc.stdout.split() == list(QUERIES)


def test_best_of_rebuilds_a_persisting_plan_on_every_timed_run(spark):
    """A plan whose build registers a persisted frame must not time a
    warm cache: it is rebuilt cold for every timed run, and every
    cache it registered is released on return."""
    from etl_macropulse_br_spark.operators.util import (
        persisted_count,
        register_persisted,
        unpersist_candidates,
    )

    unpersist_candidates()
    builds = []

    def build(s, data_dir):
        builds.append(data_dir)
        return register_persisted(s.range(200)).selectExpr("id * 2 AS x")

    best, jobs, persists = bench.best_of(
        spark, build, "tiny", 3, "test:best_of:persisting"
    )
    assert persists
    assert builds == ["tiny"] * (1 + 3)  # once for warm-up, once per run
    assert persisted_count() == 0
    assert 0 < best < 60
    assert jobs > 0


def test_best_of_reuses_a_plain_plan(spark):
    from etl_macropulse_br_spark.operators.util import (
        persisted_count,
        unpersist_candidates,
    )

    unpersist_candidates()
    builds = []

    def build(s, data_dir):
        builds.append(data_dir)
        return s.range(200).selectExpr("id % 7 AS k").groupBy("k").count()

    best, jobs, persists = bench.best_of(
        spark, build, "tiny", 3, "test:best_of:plain"
    )
    assert not persists
    assert builds == ["tiny"]  # built once, executed 2 + 3 times
    assert persisted_count() == 0
    assert 0 < best < 60
    assert jobs > 0
