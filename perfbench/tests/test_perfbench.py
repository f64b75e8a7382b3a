"""The benchmark's own tests: generator determinism, the oracles on
tiny hand-checked inputs, and span self-time arithmetic. No Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, oracle  # noqa: E402
from perfbench.trace import Span, self_time, union_length  # noqa: E402


# -- generator ------------------------------------------------------------------


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    small_p = gen.PropensitySize(users=300, days=20)
    small_a = gen.AudienceSize(customers=50, days=5, orders_per_day=10, sessions_per_day=20)
    for sub in ("a", "b"):
        gen.propensity_inputs(7, str(tmp_path / sub / "p"), small_p)
        gen.audience_inputs(7, str(tmp_path / sub / "a"), small_a)
        for drop in range(3):
            gen.write_drop(gen.stream_drop_rows(7, drop), str(tmp_path / sub / f"drop{drop}.json"))
    cmp = filecmp.dircmp(tmp_path / "a", tmp_path / "b")
    files = ["p/events.parquet", "p/truth.parquet", "a/orders.parquet", "a/sessions.parquet",
             "a/customers.parquet", "drop0.json", "drop1.json", "drop2.json"]
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert (mismatch, errors) == ([], []) and len(match) == len(files), cmp.report()


def test_other_seed_gives_other_inputs():
    a, _ = gen.propensity_events(1, gen.PropensitySize(users=200, days=5))
    b, _ = gen.propensity_events(2, gen.PropensitySize(users=200, days=5))
    assert not a.equals(b)


def test_planted_signal_leaves_most_users_unconverted():
    events, truth = gen.propensity_events(3, gen.PropensitySize(users=2000, days=20))
    buyers = set(events.filter(events["event_type"].to_numpy(zero_copy_only=False) == "purchase")["user_id"].to_pylist())
    intent = {u for u, i in zip(truth["user_id"].to_pylist(), truth["intent"].to_pylist()) if i}
    assert len(buyers) < 0.3 * truth.num_rows
    # intent users convert far more often than the rest
    assert len(buyers & intent) / len(intent) > 3 * len(buyers - intent) / (truth.num_rows - len(intent))


def test_stream_drops_resend_ids_and_carry_late_rows():
    size = gen.StreamSize(users=100, events_per_drop=200)
    rows = [gen.stream_drop_rows(5, d, size) for d in range(3)]
    ids = [r["event_id"] for drop in rows for r in drop]
    assert len(ids) == 600 and len(set(ids)) < len(ids)
    earlier = {r["event_id"] for r in rows[0]}
    assert any(r["event_id"] in earlier for r in rows[2])  # re-sent across drops
    late = [r for r in rows[2] if r["ts"] < gen.day_str(2)]
    assert late


# -- oracles --------------------------------------------------------------------


def test_auc_hand_checked():
    assert oracle.auc([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) == 0.75
    assert oracle.auc([0.5, 0.5], [0, 1]) == 0.5  # a tie counts half
    assert oracle.auc([0.9, 0.1], [0, 1]) == 0.0


def test_ranges_contiguous():
    assert oracle.ranges_contiguous([(2, 0.4, 1.0), (1, 0.0, 0.4)])
    assert not oracle.ranges_contiguous([(1, 0.0, 0.4), (2, 0.5, 1.0)])  # gap
    assert not oracle.ranges_contiguous([(1, 0.1, 0.4), (2, 0.4, 1.0)])  # misses 0
    assert not oracle.ranges_contiguous([(1, 0.0, 0.5), (2, 0.5, 0.4), (3, 0.4, 1.0)])  # reversed


def test_range_join_matches_both_segments_on_a_shared_boundary():
    con = oracle.connect()
    con.execute("CREATE TABLE p (unique_id BIGINT, probability DOUBLE)")
    con.execute("INSERT INTO p VALUES (1, 0.2), (2, 0.5), (3, 0.9)")
    con.execute(
        "CREATE TABLE cv (normalized_probability INT, value DOUBLE,"
        " probability_range_start DOUBLE, probability_range_end DOUBLE)"
    )
    con.execute("INSERT INTO cv VALUES (1, 0.1, 0.0, 0.5), (2, 0.7, 0.5, 1.0)")
    rows = sorted(con.sql(oracle.range_join_sql("p", "cv")).fetchall())
    # user 2 sits on the inclusive boundary and matches both segments
    assert rows == [(1, 0.2, 1, 0.1), (2, 0.5, 1, 0.1), (2, 0.5, 2, 0.7), (3, 0.9, 2, 0.7)]


def test_dataset_sql_split_window_and_downsampling():
    con = oracle.connect()
    con.execute(
        "CREATE TABLE ev AS SELECT * FROM (VALUES "
        "(1, 'add_to_cart', TIMESTAMP '2024-03-10 10:00:00'), (1, 'purchase', TIMESTAMP '2024-03-10 11:00:00'), "
        "(2, 'page_view', TIMESTAMP '2024-03-10 09:00:00'), (2, 'page_view', TIMESTAMP '2024-02-01 09:00:00'), "
        "(4, 'view_item', TIMESTAMP '2024-03-09 09:00:00')) t(user_id, event_type, ts)"
    )
    got = sorted(con.sql(oracle.dataset_sql("ev", "2024-03-10", 5, 0, "all", 4)).fetchall())
    # the February view lies outside the 5-day window
    assert got == [(1, 0, 0, 1, 1), (2, 1, 0, 0, 0), (4, 0, 1, 0, 0)]
    # (u * 9973 + 7) % 100: 1 -> 80, 2 -> 53, 4 -> 99; so 4 is calibration
    train = sorted(r[0] for r in con.sql(oracle.dataset_sql("ev", "2024-03-10", 5, 0, "train", 4)).fetchall())
    # positives always kept; negatives kept when (u * 9973 + 7) % 4 == 0: 2 -> 19953 % 4 == 1
    assert train == [1]
    calib = [r[0] for r in con.sql(oracle.dataset_sql("ev", "2024-03-10", 5, 0, "calibrate", 4)).fetchall()]
    assert calib == [4]


def test_payload_rows_and_duplicates():
    batches = [[{"client_id": "7", "events": [{"name": "x", "params": {"value": 0.5, "score": 0.25, "nscore": 3}}]}]]
    assert oracle.payload_rows(batches) == [(7, 0.25, 3, 0.5)]


def test_profile_and_segments_sql_hand_checked():
    con = oracle.connect()
    con.execute(
        "CREATE TABLE o AS SELECT * FROM (VALUES (1, 0, 100.0), (1, 1, 60.0), (2, 1, 500.0), (1, 2, 1.0)) "
        "t(customer_id, day, amount)"
    )
    got = sorted(con.sql(oracle.profile_sql("o", 1)).fetchall())
    assert got == [(1, 2, 160.0, 0, 1, "silver"), (2, 1, 500.0, 1, 1, "gold")]
    con.execute("CREATE TABLE c AS SELECT * FROM (VALUES (1, 'north'), (2, 'west')) t(customer_id, region)")
    con.execute(
        "CREATE TABLE s AS SELECT * FROM (VALUES (1, 1), (1, 1), (1, 0), (2, -9)) t(customer_id, day)"
    )
    seg = sorted(con.sql(oracle.segments_sql("o", "s", "c", 1)).fetchall())
    # customer 2's only session is older than the 7-day window
    assert seg == [(1, "north", "silver", "active", "north_silver"), (2, "west", "gold", "lapsed", "west_gold")]


def test_expected_audience_diff():
    remote = {
        "a": {"name": "a", "description": "1 members", "resourceName": "r/a"},
        "b": {"name": "b", "description": "2 members", "resourceName": "r/b"},
    }
    rendered = [
        {"name": "a", "description": "1 members"},  # unchanged
        {"name": "b", "description": "3 members"},  # changed
        {"name": "c", "description": "1 members"},  # new
    ]
    assert oracle.expected_audience_diff(rendered, remote) == ({"c"}, {"b"})


def test_stream_profile_counts_resent_events():
    con = oracle.connect()
    con.execute(
        "CREATE TABLE e AS SELECT * FROM (VALUES "
        "(1, 5, 2.5, TIMESTAMP '2024-03-01 00:00:00'), (1, 5, 2.5, TIMESTAMP '2024-03-01 00:00:00'), "
        "(2, 5, 1.0, TIMESTAMP '2024-03-02 00:00:00')) t(event_id, user_id, value, ts)"
    )
    ((user, n, total, first_us, last_us),) = con.sql(oracle.stream_profile_sql("e")).fetchall()
    assert (user, n, total) == (5, 3, 6.0)
    assert last_us - first_us == 86_400_000_000


# -- spans ------------------------------------------------------------------------


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_overlapping_children_once():
    parent = Span(1, "pipeline.run", 0.0, 10.0, None, 0)
    kids = [
        Span(2, "worker.A", 1.0, 4.0, 1, 0),
        Span(3, "worker.B", 2.0, 6.0, 1, 0),  # runs beside A on another thread
        Span(4, "worker.C", 8.0, 12.0, 1, 0),  # runs past the parent's end
    ]
    assert self_time(parent, kids) == 10.0 - (5.0 + 2.0)
    assert self_time(parent, []) == 10.0
