"""Oracle-backed micro-drivers for the streaming operators (VERDICT r11
#5: the six streaming operators had no bench presence, so perf drift
there was invisible). Each entry drives one operator end-to-end over a
deterministic NDJSON drop of the events table — file-source stream,
fresh checkpoint per invocation (never reused: an availableNow query
resuming an old checkpoint would skip the input, which is both wrong
and result-caching), memory/foreachBatch sink — and returns a bounded
DataFrame whose values a DuckDB oracle replays relationally.

Every operator here runs on Spark's built-in state store (the stateful
dedup and running profile are ``dropDuplicates`` and a streaming
``groupBy().agg()``), so each entry drives the full key space of the
events table — no key-space scoping to keep a Python state loop cheap.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from . import events as sevents
from . import stateful

#: writer/reader timestamp pattern carrying microseconds (the JSON
#: default truncates to milliseconds on both sides). Zone-less: the
#: parquet ts column is TimestampNTZ, and the stream schema parses the
#: wall time back in the session's UTC zone — same instant either way.
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

# -- session-scoped NDJSON drop of the events table -------------------------
# One write per (session, sf_dir, mtime) — the stream SOURCE is test
# fixture plumbing (production would read a Kafka topic / landing
# bucket), so it is prepared once per session like register_testdata's
# parquet views; every query's streaming work itself always runs fresh.

_STREAM_DIRS: dict[tuple, str] = {}
_ATEXIT = [False]

#: per-invocation scratch (fresh checkpoints, CDC drops, merge catalog
#: roots) — removed at process exit like the NDJSON drops above (the
#: fresh-per-invocation contract itself is load-bearing: a REUSED
#: checkpoint would skip input; only the cleanup is shared)
_SCRATCH_DIRS: list[str] = []


def _scratch_dir(prefix: str) -> str:
    import atexit
    import shutil

    out = tempfile.mkdtemp(prefix=prefix)
    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH_DIRS
            ]
        )
    _SCRATCH_DIRS.append(out)
    return out


def _events_ndjson_dir(spark: SparkSession, sf_dir: str, dup: bool = False) -> str:
    try:
        mtime = os.stat(os.path.join(sf_dir, "events.parquet")).st_mtime_ns
    except OSError:
        mtime = -1
    key = (id(spark), sf_dir, mtime, dup)
    hit = _STREAM_DIRS.get(key)
    if hit is not None and os.path.isdir(hit):
        return hit
    import atexit
    import shutil

    # evict only STALE entries of the SAME dup flavor (an older mtime);
    # the dup and non-dup drops coexist — evicting across flavors made
    # every dup/non-dup alternation rebuild the other drop (r12 review)
    for k in [
        k
        for k in _STREAM_DIRS
        if k[:2] == (id(spark), sf_dir) and k[3] == dup and k != key
    ]:
        shutil.rmtree(_STREAM_DIRS.pop(k), ignore_errors=True)
    out = tempfile.mkdtemp(prefix="crmint_stream_in_")
    ev = load(spark, sf_dir, "events")
    if dup:
        # two identical copies — the dedup operator's input must
        # actually contain duplicates to exercise the state path
        ev = ev.unionAll(ev)
    # default JSON writes truncate timestamps to milliseconds; the
    # oracle compares microsecond instants, so write micros explicitly
    # (the stream reader's default lenient ISO parser accepts them)
    # the ts column is TimestampNTZ, which the JSON writer formats via
    # timestampNTZFormat; set the TZ variant too for robustness.
    # repartition(8) parallelizes the JSON serialization (a single-
    # task write costs 0.7-1.3 s vs 0.5-0.8 s measured at sf0.1 —
    # guide §2.6); the drop's file layout is not part of any result:
    # every consumer is an aggregate over the row multiset, which is
    # identical at any file count
    ev.repartition(8).write.mode("overwrite").option(
        "timestampFormat", _TS_FMT
    ).option("timestampNTZFormat", _TS_FMT).json(out)
    _STREAM_DIRS[key] = out
    if not _ATEXIT[0]:
        _ATEXIT[0] = True
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True)
                for p in _STREAM_DIRS.values()
            ]
        )
    return out


def _drain_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run an availableNow pass into a uniquely named memory sink with a
    fresh checkpoint; returns the sink's rows, materialized with
    ``localCheckpoint`` so the sink's temp view is dropped before
    returning (a session would otherwise keep every drained sink).

    The state-store partition count equals spark.sql.shuffle.partitions
    at first batch and every partition is a checkpointed store (a
    stream-stream join keeps FOUR per partition, each fsynced per
    batch) — pin it to 8, sized to the micro-batch state volume
    instead of the batch session's scan parallelism (guide §2/§5;
    production ingestion sizes this to sustained state volume per
    core)."""
    spark = stream_df.sparkSession
    name = f"__stream_q_{uuid.uuid4().hex[:10]}"
    ckpt = _scratch_dir("crmint_stream_ckpt_")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(key, prev)
    try:
        return spark.table(name).localCheckpoint()
    finally:
        spark.catalog.dropTempView(name)


# -- 1. watermarked tumbling-window aggregation ------------------------------


def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sevents.stream_events_from_dir(
        spark, _events_ndjson_dir(spark, sf_dir), timestamp_format=_TS_FMT
    )
    out = _drain_to_memory(
        sevents.windowed_event_counts(stream), "complete"
    )
    return out.select(
        "window_start",
        "window_end",
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


STREAM_WINDOWED_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type, COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2, 3
"""


# -- 2. gap-based session windows --------------------------------------------


def streaming_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sevents.stream_events_from_dir(
        spark, _events_ndjson_dir(spark, sf_dir), timestamp_format=_TS_FMT
    )
    out = _drain_to_memory(sevents.sessionized_stream(stream), "complete")
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("session_value"), 2).alias("total_value"),
        F.max("session_end").alias("last_session_end"),
    )


STREAM_SESSIONIZED_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), per_session AS (
  SELECT user_id, sid, COUNT(*) AS n_events, SUM(value) AS session_value,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end
  FROM sessions GROUP BY user_id, sid
)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       ROUND(SUM(session_value), 2) AS total_value,
       MAX(session_end) AS last_session_end
FROM per_session GROUP BY user_id
"""


# -- 3. stateful exact dedup (dropDuplicates) --------------------------------


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sevents.stream_events_from_dir(
        spark,
        _events_ndjson_dir(spark, sf_dir, dup=True),
        timestamp_format=_TS_FMT,
    )
    deduped = stateful.streaming_dedup_by_key(stream)
    out = _drain_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_first"),
        F.sum("is_first").alias("sum_first"),
        F.sum("user_id").alias("sum_users"),
    )


STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(*) AS n_first, COUNT(*) AS sum_first,
       CAST(SUM(user_id) AS BIGINT) AS sum_users
FROM events GROUP BY event_type
"""


# -- 4. stateful running profile (streaming groupBy().agg()) -----------------


def streaming_running_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sevents.stream_events_from_dir(
        spark, _events_ndjson_dir(spark, sf_dir), timestamp_format=_TS_FMT
    )
    profile = stateful.user_running_profile(stream)
    out = _drain_to_memory(profile, "update")
    # update mode emits one row per (user, batch); keep each user's
    # final (highest-count) state so multi-batch splits stay invisible
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    )


STREAM_PROFILE_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(COALESCE(value, 0)), 2) AS total_value,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM events GROUP BY user_id
"""


# -- 5. foreachBatch CDC upsert sink ------------------------------------------


def streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import Catalog

    cat = Catalog(spark, _scratch_dir("stream_merge_"))
    ev = load(spark, sf_dir, "events")
    cat.write(
        ev.where("event_id % 3 != 0").select("event_id", "user_id", "value"),
        "p.stream.snapshot",
    )
    batch_dir = _scratch_dir("crmint_stream_cdc_")
    ev.where("event_id % 2 = 0").select(
        "event_id", "user_id", (F.col("value") * 2).alias("value")
    ).coalesce(1).write.mode("overwrite").json(batch_dir)
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    cdc_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = spark.readStream.schema(cdc_schema).json(batch_dir)
    ckpt = _scratch_dir("crmint_stream_ckpt_")
    sevents.run_merge_upsert(
        stream, cat, "p.stream.snapshot", ["event_id"], ckpt
    )
    return (
        cat.read("p.stream.snapshot")
        .groupBy((F.col("user_id") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


STREAM_MERGE_SQL = """
WITH merged AS (
  SELECT event_id, user_id,
         CASE WHEN event_id % 2 = 0 THEN value * 2 ELSE value END AS value
  FROM events WHERE event_id % 3 != 0
  UNION ALL
  SELECT event_id, user_id, value * 2 AS value
  FROM events WHERE event_id % 2 = 0 AND event_id % 3 = 0
)
SELECT user_id % 8 AS bucket, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM merged GROUP BY 1
"""


# -- 6. stream-stream interval join -------------------------------------------


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_ndjson_dir(spark, sf_dir)
    # deterministic quarter of the user space: join-state size and the
    # matched-pair volume scale linearly with it, so the tripwire stays
    # cheap; the operator's state-expiry semantics are unchanged
    purchases = sevents.stream_events_from_dir(
        spark, src, timestamp_format=_TS_FMT
    ).where("event_type = 'purchase' AND user_id % 4 = 0")
    views = sevents.stream_events_from_dir(
        spark, src, timestamp_format=_TS_FMT
    ).where("event_type = 'view' AND user_id % 4 = 0")
    joined = sevents.interval_joined_stream(purchases, views)
    out = _drain_to_memory(joined, "append")
    return out.groupBy((F.col("p_user") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("p_value"), 2).alias("sum_value"),
    )


STREAM_INTERVAL_SQL = """
SELECT p.user_id % 10 AS bucket, COUNT(*) AS n_pairs,
       ROUND(SUM(p.value), 2) AS sum_value
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts BETWEEN p.ts - INTERVAL 24 HOUR AND p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
  AND p.user_id % 4 = 0 AND v.user_id % 4 = 0
GROUP BY 1
"""


STREAMING_QUERIES: dict[str, tuple] = {
    "streaming_windowed_counts": (
        streaming_windowed_counts,
        STREAM_WINDOWED_SQL,
    ),
    "streaming_sessionized": (streaming_sessionized, STREAM_SESSIONIZED_SQL),
    "streaming_dedup_keys": (streaming_dedup_keys, STREAM_DEDUP_SQL),
    "streaming_running_profile": (
        streaming_running_profile,
        STREAM_PROFILE_SQL,
    ),
    "streaming_merge_upsert": (streaming_merge_upsert, STREAM_MERGE_SQL),
    "streaming_interval_join": (
        streaming_interval_join,
        STREAM_INTERVAL_SQL,
    ),
}
