"""Streaming micro-batch throughput baselines (r17 — VERDICT r16
next #8).

The 13 streaming operators are correctness-pinned (stream≡batch
differentials, slicing fuzz) but had no recorded performance
number, so "examined, left alone" had no baseline a future round
could regress against. This tool measures end-to-end availableNow
throughput (rows/s of INPUT consumed) for the two hottest stateful
operators on K-replicated sf0.1 inputs:

- ``sessionize_stream`` — applyInPandasWithState sessionization
  over events replicated by user_id (state keys grow with K);
- ``text_dedup_stream`` — watermarked first-arrival dedup over
  documents replicated with per-copy text tags (distinct texts).

Noop streaming sink; the input is split into several files and
consumed with maxFilesPerTrigger so the run exercises real
multi-batch state carry, not one giant batch. Wall time includes
query startup (stated; the same fixed cost every run pays), so the
number is a conservative floor.

Usage:
    python tools/stream_throughput.py [--k 8] [--files 8] \
        [--files-per-trigger 2] [--out plans/r17/stream_throughput.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

RECENT_PROGRESS_CONF = "spark.sql.streaming.numRecentProgressUpdates"


def _events(spark, sf_dir, k, dest, n_files):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_smoke import replicate

    from etl_macropulse_br_spark.plans.queries import _t

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    replicate(ev, k, "user_id").orderBy("ts").coalesce(n_files).write.mode(
        "overwrite"
    ).parquet(dest)


def _docs(spark, sf_dir, k, dest, n_files):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_smoke import replicate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    d = replicate(docs, k, "doc_id", "text").withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id") % 86400)
    )
    d.orderBy("ts").coalesce(n_files).write.mode("overwrite").parquet(dest)


def _run_stream(spark, build_query, src, ckpt):
    # NOTE: maxFilesPerTrigger is a file-SOURCE option; the builders
    # set it on readStream (a first draft set it on the sink, where
    # it is silently ignored — the run consumed everything in ONE
    # batch and measured no state carry across batches at all; the
    # progress log's micro_batches field exists to catch that).
    t0 = time.perf_counter()
    q = (
        build_query(src)
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(1800)
    wall = time.perf_counter() - t0
    progress = q.recentProgress
    # the query keeps only the last numRecentProgressUpdates records;
    # a full buffer means older batches fell out and would undercount
    kept = int(spark.conf.get(RECENT_PROGRESS_CONF))
    if len(progress) >= kept:
        raise RuntimeError(
            f"stream_throughput: {len(progress)} progress records reached "
            f"{RECENT_PROGRESS_CONF}={kept}; raise it to count every batch"
        )
    n_batches = len([p for p in progress if p["numInputRows"]])
    rows = sum(p["numInputRows"] for p in progress)
    return wall, rows, n_batches


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--k", type=int, default=8)
    ap.add_argument("--files", type=int, default=8)
    ap.add_argument("--files-per-trigger", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )

    from etl_macropulse_br_spark.session import get_spark
    from etl_macropulse_br_spark.streaming.dedup import text_dedup_stream
    from etl_macropulse_br_spark.streaming.sessions import (
        sessionize_stream,
    )

    spark = get_spark(
        app_name="stream_throughput",
        profile="cluster",
        # keep every micro-batch's progress, not the default last 100
        extra_conf={RECENT_PROGRESS_CONF: "100000"},
    )
    root = tempfile.mkdtemp(prefix="stream_tp_")
    out = {
        "k": args.k,
        "sf_dir": sf_dir,
        "files": args.files,
        "files_per_trigger": args.files_per_trigger,
        "loadavg_1m_start": round(os.getloadavg()[0], 2),
        "note": "wall includes query startup; rows/s is input rows "
        "consumed per wall second (conservative floor)",
        "operators": {},
    }
    try:
        ev_dir = os.path.join(root, "events")
        _events(spark, sf_dir, args.k, ev_dir, args.files)
        from pyspark.sql import types as T

        ev_schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_id", T.LongType()),
            ]
        )

        def build_sessions(src):
            stream = (
                spark.readStream.schema(ev_schema)
                .option("maxFilesPerTrigger", str(args.files_per_trigger))
                .parquet(src)
            )
            return sessionize_stream(stream, gap_s=1800)

        wall, rows, nb = _run_stream(
            spark,
            build_sessions,
            ev_dir,
            os.path.join(root, "ckpt_sessions"),
        )
        out["operators"]["sessionize_stream"] = {
            "input_rows": rows,
            "wall_s": round(wall, 2),
            "rows_per_s": round(rows / wall),
            "micro_batches": nb,
        }
        print(f"# sessionize: {rows} rows / {wall:.2f}s", file=sys.stderr)

        docs_dir = os.path.join(root, "docs")
        _docs(spark, sf_dir, args.k, docs_dir, args.files)
        docs_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )

        def build_dedup(src):
            stream = (
                spark.readStream.schema(docs_schema)
                .option("maxFilesPerTrigger", str(args.files_per_trigger))
                .parquet(src)
            )
            return text_dedup_stream(stream)

        wall, rows, nb = _run_stream(
            spark,
            build_dedup,
            docs_dir,
            os.path.join(root, "ckpt_dedup"),
        )
        out["operators"]["text_dedup_stream"] = {
            "input_rows": rows,
            "wall_s": round(wall, 2),
            "rows_per_s": round(rows / wall),
            "micro_batches": nb,
        }
        print(f"# text_dedup: {rows} rows / {wall:.2f}s", file=sys.stderr)

        out["loadavg_1m_end"] = round(os.getloadavg()[0], 2)
        line = json.dumps(out, indent=2)
        print(line)
        if args.out:
            with open(args.out, "w") as fh:
                fh.write(line + "\n")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
