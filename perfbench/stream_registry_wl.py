"""Workload ``stream_registry``: the event stream, then the query registry.

Each pass runs the stream once (``stream_wl``) and then sweeps the
registry (``registry_wl``), in the same session and one after the
other, so neither is timed while the other runs. The stream's runs
give ``cold_s`` and ``warm_s``. Pass 0 sweeps once, cold. Every later
pass sweeps ``SETTLE_SWEEPS + WARM_SWEEPS`` times; the first
``SETTLE_SWEEPS`` let the session settle after the stream and are
not counted, and the median of the other ``WARM_SWEEPS`` is
``op_p50_s``. The two share a workload, and so a JVM start, because
all of the benchmark's runs must fit its time budget.
"""

from __future__ import annotations

from statistics import median

from registry_wl import RegistrySweeps
from spans import Tracer
from stream_wl import StreamRuns

# The first sweep after a stream run was the slowest of six in 14 of
# 15 runs on a 4-core VM, 1.2-1.6 times their median. Running the
# warm sweeps before the stream instead made them slower still (the
# registry's code was then still warming up from the cold sweep).
SETTLE_SWEEPS = 1
# one warm sweep moves by a tenth to a fifth from the next one in the
# same session, and a slow minute of the host doubles a few of them;
# the median of several is what a run reports
WARM_SWEEPS = 5


class StreamRegistryWorkload:
    name = "stream_registry"
    # the cold pass and one warm one: a warm pass costs ~20 s, a cold
    # one ~25 s, and all of the benchmark's runs must fit its time
    # budget
    min_passes = 2

    def __init__(self, ctx, tracer: Tracer):
        self.stream = StreamRuns(ctx, tracer)
        self.registry = RegistrySweeps(ctx, tracer)
        ctx.facts["input"] = {
            "stream": self.stream.input,
            "registry": self.registry.input,
        }

    def run_pass(self, i: int, traced: bool) -> dict:
        stream = self.stream.run_pass(i, traced)
        settle = SETTLE_SWEEPS if i else 0
        sweeps = [
            self.registry.sweep(traced)
            for _ in range(settle + (WARM_SWEEPS if i else 1))
        ]
        return {
            "wall_s": stream["wall_s"],
            "settle_s": [s["wall_s"] for s in sweeps[:settle]],
            "sweep_s": [s["wall_s"] for s in sweeps[settle:]],
            "stream": stream,
            "registry": sweeps[settle:],
        }

    def layer_metrics(self, p: dict) -> dict[str, float]:
        stream = self.stream.layer_metrics(p["stream"])
        sweeps = [self.registry.layer_metrics(s) for s in p["registry"]]
        registry = {k: median(m[k] for m in sweeps) for k in sweeps[0]}
        both = {**stream, **registry}
        for k in ("jvm.gc_s", "trace.overhead_s"):
            both[k] = stream[k] + registry[k]
        return both

    @staticmethod
    def ops(passes: list[dict]) -> list[float]:
        """Per-operation latencies: one operation is one registry sweep.
        A sweep sums its query calls, so a burst of host noise during
        one call moves it less than it moves the median call."""
        return [s for p in passes for s in p["sweep_s"]]

    def report(self, passes: list[dict]) -> dict:
        warm = passes[1:]
        calls = [
            s for p in warm for sweep in p["registry"] for s in sweep["call_s"].values()
        ]
        return {
            "stream_rows_per_s": self.stream.rows / median(p["wall_s"] for p in warm),
            "registry_cold_sweep_s": passes[0]["sweep_s"][0],
            "query_p50_s": median(calls),
        }
