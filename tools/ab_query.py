"""Per-query A/B timing with bench.py's pass-1 method.

Times registry queries (``QUERIES``) through bench.py's own core:
the small-input session, ``bench.warm_up`` and ``bench.best_of``
(plan built once, two untimed warm runs, min-of-N noop-sink runs,
jobs counted by job group). A number here is therefore directly
comparable to a bench row. A name may repeat, for ABBA ordering;
each occurrence gets its own job group.

Usage::

    python tools/ab_query.py q3_shipping_priority docs_near_dups ...
    python tools/ab_query.py --list

Prints one line per name: min seconds and jobs per run. ``AB_RUNS``
sets N (default 6); ``SPARK_GRAFT_SF_DIR`` the input directory.

To A/B a challenger plan, register it in the query registry on a
branch and time both names. The r13–r17 challengers (all rejected,
verdicts in PLANS.md) are kept reproducible in
``git show 8bfbdf4:tools/ab_query.py``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    from etl_macropulse_br_spark.plans.queries import QUERIES

    names = sys.argv[1:]
    if "--list" in names:
        print("\n".join(QUERIES))
        return
    if not names:
        sys.exit("usage: ab_query.py NAME [NAME ...] | --list")
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(
            f"unknown queries {unknown} — valid names: "
            f"{', '.join(QUERIES)}"
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("AB_RUNS", "6"))

    from bench import best_of, warm_up
    from etl_macropulse_br_spark.session import get_spark

    print(f"# loadavg at start: {os.getloadavg()}", file=sys.stderr)
    spark = get_spark(app_name="ab_query", profile="small-input")
    # bench's full warm-up: without the shape loop, names measured
    # LATER in the list run against warmer C2-compiled operator
    # classes — a position bias that flipped an A/B verdict in r13
    # (see PLANS.md)
    warm_up(spark, sf_dir)
    for occ, name in enumerate(names):
        best, jobs, _ = best_of(
            spark, QUERIES[name], sf_dir, n_runs, f"ab:{occ}:{name}"
        )
        print(f"{name}: {best:.3f}s  {jobs:.1f} jobs/run")


if __name__ == "__main__":
    main()
