"""Stateful streaming operators on Spark's built-in state store.

Both operators are plain DataFrame plans, so their per-key state lives
in the JVM state store (RocksDB/HDFS-backed on a cluster), keyed by the
grouping column — partition-parallel and fault-tolerant by
construction, with no Python worker on the micro-batch path.

Implemented:
- ``user_running_profile`` — per-user running profile (event count,
  total value, first/last seen) emitted on every update; the streaming
  twin of the batch per-user aggregate with no window bound.
- ``streaming_dedup_by_key`` — drop rows whose key was already seen
  (exact streaming dedup; state is one entry per key, kept forever —
  use ``dropDuplicatesWithinWatermark`` where state must be bounded by
  event time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def user_running_profile(events: DataFrame) -> DataFrame:
    """Unbounded per-user running profile (update-mode output)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("total_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def streaming_dedup_by_key(events: DataFrame) -> DataFrame:
    """Emit only the first occurrence of each event_id across the
    stream (exact dedup; append-mode output)."""
    return events.dropDuplicates(["event_id"]).select(
        "event_id",
        "user_id",
        "event_type",
        F.lit(1).cast("long").alias("is_first"),
    )


def enrich_with_dimension(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a broadcastable
    dimension table — no state, the static side is re-read per
    micro-batch (picks up dimension updates automatically)."""
    return events.join(dim, on, "left")
