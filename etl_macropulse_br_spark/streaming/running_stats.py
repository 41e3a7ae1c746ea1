"""Per-user RUNNING lifetime stats (event count, first/last event
time) as a native streaming aggregation.

``groupBy(user_id).agg(count, min(ts), max(ts))`` in Update mode:
Spark keeps one partial-aggregate row per user in the state store
and each micro-batch re-emits the refreshed totals of the users it
touched. It is the same plan as the batch aggregate the differential
test replays on identical input, so stream and batch cannot drift.

State is one fixed-width row per user — O(distinct users), the
minimum any lifetime aggregate needs. No watermark: lifetime stats
never finalize, so state is never evicted (callers bound the key
space, as for any unwatermarked aggregate).

Reference scope: the reference is strictly batch (SURVEY.md §2.11);
extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def running_user_stats(
    stream: DataFrame, state_store: str | None = None
) -> DataFrame:
    """Running ``(user_id, n_events, first_ts, last_ts)`` per user;
    start the query with ``outputMode("update")``. One hash exchange
    on user_id, the single shuffle any per-key stateful op needs.
    ``state_store="rocksdb"`` selects the production state backend
    (session-scoped — streaming/state_store.py)."""
    if state_store is not None:
        from etl_macropulse_br_spark.streaming.state_store import (
            set_state_store,
        )

        set_state_store(stream.sparkSession, state_store)
    return stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
