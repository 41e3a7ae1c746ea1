"""Native update-mode running user stats: final streamed state must
equal the batch aggregate on identical input, across micro-batch
boundaries."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

BASE = dt.datetime(2026, 3, 1, 8, 0, 0)

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming."
    "state.RocksDBStateStoreProvider"
)


def test_running_stats_stream_matches_batch_aggregate(spark, tmp_path):
    from etl_macropulse_br_spark.streaming.running_stats import (
        running_user_stats,
    )

    src = str(tmp_path / "ev_stream")
    # micro-batch 1: two users
    spark.createDataFrame(
        [
            (1, BASE),
            (1, BASE + dt.timedelta(minutes=2)),
            (2, BASE + dt.timedelta(minutes=1)),
        ],
        SCHEMA,
    ).coalesce(1).write.parquet(src)
    # micro-batch 2: user 1 continues (state must carry), user 3 new
    spark.createDataFrame(
        [
            (1, BASE + dt.timedelta(minutes=10)),
            (3, BASE + dt.timedelta(minutes=5)),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB
    )
    try:
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            running_user_stats(stream)
            .writeStream.format("memory")
            .queryName("running_stats_out")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )

    # update mode re-emits a user's row each batch it appears in:
    # the LAST emission per user is the final state
    emitted = spark.sql(
        "select * from running_stats_out"
    ).collect()
    final = {}
    for r in emitted:  # memory sink preserves batch order
        final[r["user_id"]] = (r["n_events"], r["first_ts"], r["last_ts"])

    batch = {
        r["user_id"]: (r["n"], r["first_ts"], r["last_ts"])
        for r in spark.read.parquet(src)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert final == batch
    assert final[1][0] == 3  # state carried across micro-batches
