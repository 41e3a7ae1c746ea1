"""The stream of the ``stream_registry`` workload: stateful
sessionization of an event stream.

The input is a seeded ``events(user_id, ts, event_id)`` table
replicated ``K``-fold (copy ``k`` shifts ``user_id`` by ``k * USERS``),
sorted by event time and written as exactly ``FILES`` parquet files
with increasing modification times. Each pass runs
``sessionize_stream`` over it with ``maxFilesPerTrigger``, an
``availableNow`` trigger and a ``noop`` sink, from a fresh checkpoint.

Every pass is checked from the query's own progress records, all of
them (the session keeps every record, not the last 100): consecutive
batch ids, ``ceil(FILES / FILES_PER_TRIGGER)`` batches with input,
every input row read once, and the emitted session count equal to the
number of sessions the watermark has closed by the end, computed here
from the generated events.
"""

from __future__ import annotations

import math
import os
import time
from datetime import datetime
from statistics import median

import numpy as np

from spans import Tracer

USERS = 75  # per copy
EVENTS = 50_000  # per copy
K = 2
FILES = 4
FILES_PER_TRIGGER = 2
GAP_S = 1800
LATENESS_S = 3600
DAYS = 30
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def write_events(dest: str, seed: int) -> tuple[int, int]:
    """Write the stream input; returns (rows, sessions expected out)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    ts = T0_US + rng.integers(0, DAYS * 86_400 * 10**6, EVENTS)
    user = rng.integers(0, USERS, EVENTS)
    ts = np.tile(ts, K)
    user = np.concatenate([user + k * USERS for k in range(K)])
    order = np.argsort(ts, kind="stable")
    ts, user = ts[order], user[order]
    event_id = np.arange(len(ts))
    os.makedirs(dest, exist_ok=True)
    for j, idx in enumerate(np.array_split(np.arange(len(ts)), FILES)):
        path = os.path.join(dest, f"events-{j:03d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array(user[idx], pa.int64()),
                    "ts": pa.array(ts[idx], pa.timestamp("us", tz="UTC")),
                    "event_id": pa.array(event_id[idx], pa.int64()),
                }
            ),
            path,
        )
        # the file source reads oldest first: one second per file
        os.utime(path, (1_700_000_000 + j, 1_700_000_000 + j))
    return len(ts), expected_sessions(user, ts)


def expected_sessions(user: np.ndarray, ts: np.ndarray) -> int:
    """Sessions (inclusive ``GAP_S`` rule) that the final watermark,
    ``max(ts) - LATENESS_S`` in whole milliseconds, has passed."""
    order = np.lexsort((ts, user))
    u, t = user[order], ts[order]
    new = np.ones(len(t), dtype=bool)
    new[1:] = (u[1:] != u[:-1]) | (t[1:] - t[:-1] > GAP_S * 10**6)
    last = t[np.r_[np.flatnonzero(new)[1:] - 1, len(t) - 1]]
    wm_us = (int(ts.max()) // 1000 - LATENESS_S * 1000) * 1000
    return int(np.count_nonzero(last + GAP_S * 10**6 < wm_us))


class StreamRuns:
    """Runs the stream, one run per pass, and checks each run."""

    def __init__(self, ctx, tracer: Tracer):
        self.ctx = ctx
        self.tracer = tracer
        self.src = os.path.join(ctx.work, "events")
        self.rows, self.sessions = write_events(self.src, ctx.seed)
        self.batches = math.ceil(FILES / FILES_PER_TRIGGER)
        self.input = {
            "rows": self.rows,
            "files": FILES,
            "files_per_trigger": FILES_PER_TRIGGER,
            "k": K,
            "users": USERS * K,
            "expected_sessions": self.sessions,
        }

    def run_pass(self, i: int, traced: bool) -> dict:
        from pyspark.sql import types as T

        from etl_macropulse_br_spark.streaming.sessions import sessionize_stream

        spark = self.ctx.spark
        schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_id", T.LongType()),
            ]
        )
        ckpt = os.path.join(self.ctx.work, f"checkpoint{i}")
        with self.tracer.span("stream", gc=traced) as root:
            started = time.time()
            events = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
                .parquet(self.src)
            )
            query = (
                sessionize_stream(
                    events, gap_s=GAP_S, lateness=f"{LATENESS_S} seconds"
                )
                .writeStream.format("noop")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        progress = query.recentProgress
        return {
            "wall_s": root.dur,
            "span": root,
            **self._check(query, progress, started),
        }

    def _check(self, query, progress, started: float) -> dict:
        errors = []
        if query.exception() is not None:
            errors.append(f"stream failed: {query.exception()}")
        ids = [p["batchId"] for p in progress]
        if ids != list(range(len(ids))):
            errors.append(f"progress records missing: batch ids {ids}")
        data = [p for p in progress if p["numInputRows"] > 0]
        rows = sum(p["numInputRows"] for p in progress)
        out = sum(p["sink"]["numOutputRows"] for p in progress)
        if len(data) != self.batches:
            errors.append(f"{len(data)} batches with input, want {self.batches}")
        if rows != self.rows:
            errors.append(f"read {rows} rows, want {self.rows}")
        if out != self.sessions:
            errors.append(f"emitted {out} sessions, want {self.sessions}")
        self.ctx.op(not errors, "; ".join(errors))

        def dur(key):
            return sum(p["durationMs"].get(key, 0) for p in progress) / 1000

        state = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
        first = progress[0]["timestamp"] if progress else None
        return {
            "input_rows": rows,
            "micro_batches": len(data),
            "startup_s": (_epoch(first) - started) if first else 0.0,
            "add_batch_s": dur("addBatch"),
            "query_planning_s": dur("queryPlanning"),
            "commit_s": dur("walCommit") + dur("commitOffsets"),
            "triggers_s": [p["durationMs"]["triggerExecution"] / 1000 for p in progress],
            "state_rows": max((s["numRowsTotal"] for s in state), default=0),
            "state_memory_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
        }

    @staticmethod
    def layer_metrics(p: dict) -> dict[str, float]:
        m = {
            f"stream.{k}": p[k]
            for k in (
                "input_rows",
                "micro_batches",
                "startup_s",
                "add_batch_s",
                "query_planning_s",
                "commit_s",
                "state_rows",
                "state_memory_bytes",
            )
        }
        m["stream.trigger_p50_s"] = median(p["triggers_s"])
        m["stream.rows_per_s"] = p["input_rows"] / p["wall_s"]
        m["jvm.gc_s"] = p["span"].gc_s
        m["trace.overhead_s"] = p["span"].tracer_s
        return m


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
