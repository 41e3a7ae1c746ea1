"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload pipeline_anp --seed 1 \\
        --seconds 10 --trace 0

Set-up (``setup_s``) runs from process start to a Spark session that
has run its first trivial job. Then the workload generates its inputs
from ``--seed`` and repeats passes, closed-loop with one client, until
``--seconds`` have passed and at least ``min_passes`` ran. Pass 0 is
cold (the first in a fresh session); the rest are warm. Every
operation's output is checked; one that fails its check counts in
``failed``, and one that raises ends the run without a result.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics instead: it traces every pass and reports the
median over the warm passes, with the tracer's own time per pass as
``trace.overhead_s``; the tracing overhead against the untraced runs
is also the difference between their end-to-end figures and the
traced run's pass times in the record. Layers a workload bypasses
read 0.

A record with the workload-specific figures, the environment and the
input sizes goes to stderr; the last line of stdout is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from common import Context, peak_rss_mb  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from spans import Tracer  # noqa: E402


def workloads() -> dict:
    from pipeline_wl import PipelineWorkload
    from stream_registry_wl import StreamRegistryWorkload

    return {w.name: w for w in (PipelineWorkload, StreamRegistryWorkload)}


def measure(ctx: Context, wl, tracer: Tracer) -> tuple[dict, dict]:
    """Run the passes; return (metrics, record)."""
    passes = []
    tracer.active = ctx.trace
    start = time.perf_counter()
    while len(passes) < wl.min_passes or time.perf_counter() - start < ctx.seconds:
        passes.append(wl.run_pass(len(passes), ctx.trace))
    tracer.active = False
    warm = passes[1:]

    if not ctx.trace:
        metrics = {
            "setup_s": ctx.setup["setup_s"],
            "peak_rss_mb": peak_rss_mb(),
            "cold_s": passes[0]["wall_s"],
            "warm_s": median([p["wall_s"] for p in warm]),
            "op_p50_s": median(wl.ops(warm)),
        }
    else:
        per_pass = [wl.layer_metrics(p) for p in warm]
        metrics = {name: 0.0 for name, _ in PER_LAYER}
        metrics.update({k: median([m[k] for m in per_pass]) for k in per_pass[0]})
        metrics["session.get_spark_s"] = ctx.setup["session.get_spark_s"]
        metrics["session.first_job_s"] = ctx.setup["session.first_job_s"]

    record = {
        "workload": wl.name,
        "seed": ctx.seed,
        "trace": ctx.trace,
        **ctx.facts,
        "loadavg_end": os.getloadavg(),
        "passes": [
            {k: p[k] for k in ("wall_s", "settle_s", "sweep_s", "jobs") if k in p}
            for p in passes
        ],
        "warm_ops": {"n": len(wl.ops(warm)), "p50_s": median(wl.ops(warm))},
        "failed_ops_ratio": ctx.failed / ctx.attempted,
        "errors": ctx.errors,
        **wl.report(passes),
    }
    return metrics, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    known = workloads()
    ap.add_argument("--workload", required=True, choices=sorted(known))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_macropulse_br_spark")):
        print(
            f"perfbench: no etl_macropulse_br_spark package in {ROOT}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    cls = known[args.workload]

    ctx = Context(ROOT, cls.name, args.seed, args.seconds, bool(args.trace))
    try:
        ctx.open()
        tracer = Tracer(ctx.spark)
        try:
            metrics, record = measure(ctx, cls(ctx, tracer), tracer)
        finally:
            tracer.restore()
    except Exception:  # noqa: BLE001 — report the cause, print no result
        traceback.print_exc()
        return 1
    finally:
        ctx.close()

    wanted = PER_LAYER if ctx.trace else END_TO_END
    print("# record " + json.dumps(record, default=str), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {
                    name: {"value": metrics[name], "unit": unit}
                    for name, unit in wanted
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
