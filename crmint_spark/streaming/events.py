"""Streaming ingestion of the events table.

Design notes for 100 TB/day ingestion:
- file/Kafka source -> ``withWatermark`` bounds state; late rows beyond
  the watermark are dropped deterministically,
- tumbling-window counts are a streaming shuffle on (window, key) with
  partial aggregation — the same plan shape as the batch groupBy,
- session windows use ``F.session_window`` (gap-based), the streaming
  twin of the batch LAG+cumsum sessionization in queries.q08,
- sinks go through ``foreachBatch`` so the batch writers (catalog
  write dispositions, JSON-template sinks) are reused verbatim,
- drains use the ``availableNow`` trigger: no operator here carries a
  processing-time timeout, so every drain ends by itself once the input
  present at its start is consumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events_from_dir(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    timestamp_format: str | None = None,
) -> DataFrame:
    """File-source stream of event NDJSON drops (a stand-in for the
    Kafka topic in production). ``timestamp_format`` overrides the
    default ISO parser, whose pattern reads at most 3 fraction digits —
    pass the writer's pattern when the drop carries microseconds."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.json(input_dir)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows per user — the streaming counterpart of
    the batch LAG+cumsum sessionization (queries.q08_sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def _drain(stream_df: DataFrame, sink, output_mode: str, checkpoint_dir: str) -> None:
    """Run one ``availableNow`` pass: every micro-batch that has rows
    goes to ``sink(batch_df)`` through foreachBatch, and the query ends
    by itself once the input present at start is consumed."""

    def _each_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            sink(batch_df)

    (
        stream_df.writeStream.foreachBatch(_each_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_to_table(
    stream_df: DataFrame,
    catalog,
    table_id: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> None:
    """Drain all available input into a catalog table via foreachBatch
    (reusing the batch write path), then stop. ``availableNow`` gives
    batch-job semantics over streaming input — the idiomatic backfill.

    Default ``complete`` mode matters for aggregations: in ``append``
    mode, windows newer than ``max(ts) - watermark`` are still open when
    the input is exhausted and would never be emitted; complete mode
    rewrites the full aggregate each batch (truncate-write), so the
    final table equals the batch-computed result.
    """
    disposition = "WRITE_TRUNCATE" if output_mode == "complete" else "WRITE_APPEND"
    _drain(
        stream_df,
        lambda batch_df: catalog.write(batch_df, table_id, disposition),
        output_mode,
        checkpoint_dir,
    )


def run_merge_upsert(
    stream_df: DataFrame,
    catalog,
    table_id: str,
    keys: list[str],
    checkpoint_dir: str,
) -> None:
    """CDC-style streaming upsert sink: each micro-batch MERGEs into the
    catalog table on ``keys`` — matched rows take the batch's non-key
    columns, new keys insert. This is the foreachBatch-upsert idiom the
    table formats document for streaming sinks, built here on the DML
    compiler over plain parquet (one key equi-join — broadcast-able
    while batches are small — plus a copy-on-write swap).

    Use with ``update``-mode aggregations: only keys changed by the
    batch are rewritten logically, and keys absent from the batch keep
    their last value — unlike ``complete`` mode, whose state (and
    truncate-write) grows with history. ``availableNow`` drains what's
    there and stops, so repeated calls give incremental-backfill
    semantics with exactly-once state from the checkpoint."""
    from ..dml import merge_upsert_batch

    _drain(
        stream_df,
        lambda batch_df: merge_upsert_batch(catalog, table_id, batch_df, keys),
        "update",
        checkpoint_dir,
    )


def interval_joined_stream(
    purchases: DataFrame,
    views: DataFrame,
    lag: str = "24 hours",
    watermark: str = "60 days",
) -> DataFrame:
    """Stream-stream INNER interval join: each purchase matched to the
    same user's view events in ``[purchase_ts - lag, purchase_ts]``.

    Both sides carry watermarks and the join predicate bounds event time
    in BOTH directions, so Spark can expire join state: buffered view
    rows older than ``watermark + lag`` are evicted — the state bound
    that makes a stream-stream join runnable indefinitely at ingest
    scale (an unbounded-state join would OOM on day one)."""
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    return p.join(
        v,
        F.expr(
            f"p_user = v_user AND v_ts BETWEEN p_ts - INTERVAL {lag} AND p_ts"
        ),
    )
