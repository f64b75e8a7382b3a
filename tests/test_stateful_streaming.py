"""Stateful streaming operators (built-in state store) + stream-static
join tests."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from crmint_spark.catalog import load  # noqa: E402
from crmint_spark.streaming import events as sevents  # noqa: E402
from crmint_spark.streaming import stateful  # noqa: E402


@pytest.fixture()
def stream_dir(spark, tmp_path):
    out = str(tmp_path / "in")
    load(spark, "/root/testdata/sf0.001", "events").coalesce(1).write.json(out)
    return out


def _drain(stream_df, tmp_path, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_user_running_profile_matches_batch(spark, tmp_path, stream_dir):
    stream = sevents.stream_events_from_dir(spark, stream_dir)
    profile = stateful.user_running_profile(stream)
    _drain(profile, tmp_path, "profiles", "update")
    got = spark.table("profiles")
    # update mode with availableNow over one file: one final row per user
    batch = (
        load(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    got_map = {r.user_id: (r.n_events, r.total_value) for r in got.collect()}
    for r in batch.collect():
        assert got_map[r.user_id][0] == r.n_events
        assert abs(got_map[r.user_id][1] - r.total_value) < 0.05


def test_streaming_dedup_emits_each_key_once(spark, tmp_path, stream_dir):
    stream = sevents.stream_events_from_dir(spark, stream_dir)
    deduped = stateful.streaming_dedup_by_key(stream)
    _drain(deduped, tmp_path, "deduped", "append")
    got = spark.table("deduped")
    n_events = load(spark, "/root/testdata/sf0.001", "events").count()
    assert got.count() == n_events  # event_ids unique in testdata
    assert got.select("event_id").distinct().count() == n_events


def test_stream_static_enrichment_join(spark, tmp_path, stream_dir):
    stream = sevents.stream_events_from_dir(spark, stream_dir)
    dim = spark.createDataFrame(
        [("view", "browse"), ("click", "browse"), ("purchase", "convert"),
         ("signup", "convert"), ("error", "ops")],
        "event_type string, category string",
    )
    enriched = stateful.enrich_with_dimension(stream, dim, "event_type")
    counts = enriched.groupBy("category").count()
    _drain(counts, tmp_path, "enriched", "complete")
    got = {r.category: r["count"] for r in spark.table("enriched").collect()}
    batch = {
        r.category: r["count"]
        for r in load(spark, "/root/testdata/sf0.001", "events")
        .join(dim, "event_type", "left")
        .groupBy("category")
        .count()
        .collect()
    }
    assert got == batch


def _write_ndjson(d, name, rows):
    """Atomically drop one NDJSON file of event rows into ``d``."""
    import json

    base = dict(user_id=1, event_type="view", value=1.0,
                ts="2024-01-01T00:00:00.000Z", props="{}")
    p = os.path.join(d, name)
    with open(p + ".tmp", "w") as fh:
        for row in rows:
            fh.write(json.dumps({**base, **row}) + "\n")
    os.rename(p + ".tmp", p)


def test_streaming_dedup_across_three_micro_batches(spark, tmp_path):
    """Exact forever-dedup across micro-batches: key 1 arrives in all
    three batches and is emitted once, by the first."""
    import time

    d = str(tmp_path / "in")
    os.makedirs(d)
    for i, ids in enumerate([[1, 2], [1, 3], [1, 4]]):
        _write_ndjson(d, f"b{i}.json", [{"event_id": e} for e in ids])
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    stream = sevents.stream_events_from_dir(spark, d, max_files_per_trigger=1)
    q = _drain(
        stateful.streaming_dedup_by_key(stream), tmp_path, "dedup3", "append"
    )
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3
    rows = spark.table("dedup3").collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3, 4]
    assert all(r.is_first == 1 for r in rows)


def test_running_profile_null_values_sum_to_zero(spark, tmp_path):
    """A user whose every value is NULL gets total_value 0.0, not NULL
    (the batch oracle's SUM(COALESCE(value, 0)))."""
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_ndjson(d, "b0.json", [
        {"event_id": 1, "user_id": 7, "value": None},
        {"event_id": 2, "user_id": 7, "value": None},
        {"event_id": 3, "user_id": 8, "value": 2.5},
        {"event_id": 4, "user_id": 8, "value": None},
    ])
    stream = sevents.stream_events_from_dir(spark, d)
    _drain(stateful.user_running_profile(stream), tmp_path, "nullprof", "update")
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.table("nullprof").collect()
    }
    assert got == {7: (2, 0.0), 8: (2, 2.5)}


@pytest.mark.parametrize(
    "build, mode, operator",
    [
        (stateful.user_running_profile, "update", "StateStoreSave"),
        (stateful.streaming_dedup_by_key, "append", "StreamingDeduplicate"),
    ],
)
def test_stateful_plans_stay_in_the_jvm(
    spark, tmp_path, stream_dir, build, mode, operator
):
    """Both operators run on the built-in state store: the executed
    plan has Spark's own stateful node and no Python state function."""
    stream = sevents.stream_events_from_dir(spark, stream_dir)
    q = _drain(build(stream), tmp_path, f"plan_{operator}", mode)
    plan = q._jsq.explainInternal(False)
    assert operator in plan, plan
    assert "FlatMapGroupsInPandasWithState" not in plan, plan


def test_ndjson_drops_coexist_per_dup_flavor(spark):
    """The dup and non-dup NDJSON drops are cached independently: an
    alternation (windowed -> dedup -> profile, the bench order) must
    not evict and rebuild the other flavor (r12 review)."""
    from crmint_spark.streaming import queries_streaming as qs

    sf = "/root/testdata/sf0.001"
    plain1 = qs._events_ndjson_dir(spark, sf, dup=False)
    dup1 = qs._events_ndjson_dir(spark, sf, dup=True)
    plain2 = qs._events_ndjson_dir(spark, sf, dup=False)
    dup2 = qs._events_ndjson_dir(spark, sf, dup=True)
    assert plain1 == plain2 and os.path.isdir(plain1)
    assert dup1 == dup2 and os.path.isdir(dup1)
    assert plain1 != dup1


def test_streaming_queries_drop_their_memory_sinks(spark):
    """Each streaming driver materializes its sink's rows and drops the
    ``__stream_q_*`` temp view before returning: a long-lived session
    must not keep one registered sink per drained query."""
    from crmint_spark.streaming import queries_streaming as qs

    sf = "/root/testdata/sf0.001"
    for fn in (qs.streaming_windowed_counts, qs.streaming_dedup_keys):
        rows = fn(spark, sf).collect()
        assert rows
    left = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__stream_q_")
    ]
    assert left == []
