"""BigQuery DML on parquet tables (crmint_spark.dml + executor routing).

The reference executes DML verbatim on BigQuery (ref: backend/jobs/
workers/bigquery/bq_script_executor.py:40-56); here MERGE/UPDATE/DELETE/
INSERT/TRUNCATE compile to declarative queries plus a copy-on-write
storage swap.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from crmint_spark.catalog import Catalog
from crmint_spark.dml import (
    DeleteStmt,
    DmlError,
    InsertStmt,
    MergeStmt,
    TruncateStmt,
    UpdateStmt,
    parse_dml,
)
from crmint_spark.workers.base import WorkerContext, WorkerException
from crmint_spark.workers.sql_executor import SparkSQLExecutor


@pytest.fixture()
def cat(spark):
    return Catalog(spark, tempfile.mkdtemp(prefix="dml_test_"))


def run(spark, cat, script, dry_run=False):
    w = SparkSQLExecutor(
        {"script": script, "dry_run": dry_run},
        WorkerContext(spark=spark, catalog=cat),
    )
    w.execute()
    return w


def seed(spark, cat, rows="SELECT 1 AS id, 'a' AS seg, CAST(10.0 AS DOUBLE) AS bal "
        "UNION ALL SELECT 2, 'b', 20.0 UNION ALL SELECT 3, 'c', -5.0"):
    cat.write(spark.sql(rows), "p.d.t")


def state(spark, cat):
    return sorted(map(tuple, cat.read("p.d.t").collect()))


# -- parsing ---------------------------------------------------------------


def test_parse_classifies_statements():
    assert isinstance(parse_dml("UPDATE t SET a = 1 WHERE x"), UpdateStmt)
    assert isinstance(parse_dml("DELETE FROM t WHERE x"), DeleteStmt)
    assert isinstance(parse_dml("DELETE t WHERE x"), DeleteStmt)
    assert isinstance(parse_dml("TRUNCATE TABLE t"), TruncateStmt)
    assert isinstance(parse_dml("INSERT INTO t VALUES (1)"), InsertStmt)
    assert isinstance(
        parse_dml("MERGE INTO t USING s ON t.a = s.a WHEN MATCHED THEN DELETE"),
        MergeStmt,
    )
    assert parse_dml("SELECT 1") is None
    assert parse_dml("CREATE TABLE t AS SELECT 1") is None


def test_parse_requires_where():
    # BigQuery parity: UPDATE/DELETE without WHERE are rejected
    with pytest.raises(DmlError):
        parse_dml("UPDATE t SET a = 1")
    with pytest.raises(DmlError):
        parse_dml("DELETE FROM t")


def test_parse_merge_clauses():
    m = parse_dml(
        "MERGE `p.d.t` T USING (SELECT 1 AS a) S ON T.a = S.a "
        "WHEN MATCHED AND T.a > CASE WHEN S.a > 0 THEN 1 ELSE 2 END "
        "THEN UPDATE SET b = 1 "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT ROW"
    )
    assert m.target == "p.d.t"
    assert len(m.matched) == 1 and m.matched[0].kind == "update"
    # CASE..THEN inside the clause condition must not truncate it
    assert "CASE WHEN S.a > 0 THEN 1 ELSE 2 END" in m.matched[0].condition
    assert len(m.not_matched_by_source) == 1
    assert m.not_matched_by_source[0].kind == "delete"
    assert m.not_matched_by_target[0].insert_values is None  # INSERT ROW


def test_parse_merge_rejects_bad_actions():
    with pytest.raises(DmlError):
        parse_dml("MERGE t USING s ON x WHEN MATCHED THEN INSERT ROW")
    with pytest.raises(DmlError):
        parse_dml("MERGE t USING s ON x WHEN NOT MATCHED THEN DELETE")


# -- execution: catalog tables --------------------------------------------


def test_update_delete_truncate_catalog(spark, cat):
    seed(spark, cat)
    run(spark, cat, "UPDATE `p.d.t` SET bal = bal * 2 WHERE seg = 'a';")
    assert state(spark, cat) == [(1, "a", 20.0), (2, "b", 20.0), (3, "c", -5.0)]
    run(spark, cat, "DELETE FROM `p.d.t` WHERE bal < 0;")
    assert state(spark, cat) == [(1, "a", 20.0), (2, "b", 20.0)]
    run(spark, cat, "TRUNCATE TABLE `p.d.t`")
    assert state(spark, cat) == []


def test_insert_catalog_aligns_columns(spark, cat):
    seed(spark, cat)
    run(spark, cat, "INSERT INTO `p.d.t` (id, seg) VALUES (9, 'z');")
    assert (9, "z", None) in state(spark, cat)
    run(spark, cat, "INSERT INTO `p.d.t` (bal, id, seg) SELECT 1.5, 10, 'q';")
    assert (10, "q", 1.5) in state(spark, cat)
    with pytest.raises(WorkerException):
        run(spark, cat, "INSERT INTO `p.d.t` (nope) VALUES (1);")


def test_insert_self_reference(spark, cat):
    seed(spark, cat)
    run(
        spark,
        cat,
        "INSERT INTO `p.d.t` SELECT id + 100, seg, bal FROM `p.d.t` WHERE id = 1;",
    )
    assert (101, "a", 10.0) in state(spark, cat)
    assert len(state(spark, cat)) == 4


def test_insert_scalar_subquery_self_reference(spark, cat):
    """An uncorrelated scalar subquery over the target is a
    self-reference the direct-append guard must catch even though
    Dataset.inputFiles() does not traverse subquery expressions
    (r12 review): the INSERT must stage, and the subquery must see the
    pre-insert snapshot exactly once."""
    seed(spark, cat)
    w = run(
        spark,
        cat,
        "INSERT INTO `p.d.t` "
        "SELECT id + 200, seg, bal FROM `p.d.t` "
        "WHERE bal >= (SELECT MAX(bal) FROM `p.d.t`);",
    )
    # max(bal)=20.0 pre-insert -> exactly id=2 qualifies
    assert (202, "b", 20.0) in state(spark, cat)
    assert len(state(spark, cat)) == 4
    # the guard itself: a frame whose ONLY target reference is the
    # scalar subquery must read as self-referencing
    cat.read("p.d.t").createOrReplaceTempView("__t_guard")
    probe = spark.sql(
        "SELECT 1 AS x WHERE 1 > (SELECT COUNT(*) FROM __t_guard)"
    )
    assert w._reads_own_storage(probe, "p.d.t") is True
    other = spark.sql("SELECT 1 AS x")
    assert w._reads_own_storage(other, "p.d.t") is False


def test_insert_guard_reads_the_plan_under_a_long_catalog_root(spark, monkeypatch):
    """The self-reference guard walks the analyzed plan and its
    subqueries for file relations under the table directory. Under a
    catalog root longer than Spark's 100-character metadata strings, a
    scalar-subquery self-reference must still stage, and a plain VALUES
    insert must still append directly."""
    root = tempfile.mkdtemp(prefix="dml_guard_" + "r" * 100)
    assert len(root) > 100
    c = Catalog(spark, root)
    seed(spark, c)
    seen = []
    guard = SparkSQLExecutor._reads_own_storage

    def spy(self, df, table_id):
        seen.append(guard(self, df, table_id))
        return seen[-1]

    monkeypatch.setattr(SparkSQLExecutor, "_reads_own_storage", spy)
    run(
        spark,
        c,
        "INSERT INTO `p.d.t` SELECT id + 300, seg, bal FROM `p.d.t`"
        " WHERE bal >= (SELECT MAX(bal) FROM `p.d.t`);",
    )
    run(spark, c, "INSERT INTO `p.d.t` VALUES (7, 'z', 1.0);")
    monkeypatch.undo()
    assert seen == [True, False]
    rows = state(spark, c)
    assert (302, "b", 20.0) in rows and (7, "z", 1.0) in rows
    assert len(rows) == 5
    # explain output lists a multi-path scan's locations only until 100
    # characters: the target as the SECOND root path of a scan inside a
    # subquery was invisible to the explain-string probe
    c.write(spark.sql("SELECT 9 AS id, 'o' AS seg, 0.0 AS bal"), "p.d.o")
    both = spark.read.parquet(c.path_for("p.d.o"), c.path_for("p.d.t"))
    both.createOrReplaceTempView("__guard_both")
    probe = spark.sql("SELECT 1 AS x WHERE 1 > (SELECT COUNT(*) FROM __guard_both)")
    w = run(spark, c, "SELECT 1;")
    assert w._reads_own_storage(probe, "p.d.t") is True


def test_merge_all_clause_kinds(spark, cat):
    seed(spark, cat)
    run(
        spark,
        cat,
        """
        MERGE INTO `p.d.t` T
        USING (SELECT 1 AS id, 'A2' AS seg UNION ALL SELECT 3, 'C2'
               UNION ALL SELECT 4, 'd') S
        ON T.id = S.id
        WHEN MATCHED AND T.bal < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET seg = S.seg
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET seg = 'stale'
        WHEN NOT MATCHED THEN INSERT (id, seg) VALUES (S.id, S.seg);
        """,
    )
    assert state(spark, cat) == [
        (1, "A2", 10.0),   # matched -> update
        (2, "stale", 20.0),  # not matched by source -> update
        (4, "d", None),    # not matched -> insert
    ]  # id=3 (bal<0) deleted by the first matched clause


def test_merge_multi_match_errors_and_preserves_table(spark, cat):
    seed(spark, cat)
    before = state(spark, cat)
    with pytest.raises(Exception, match="more than one source row"):
        run(
            spark,
            cat,
            "MERGE INTO `p.d.t` T USING (SELECT 1 AS id UNION ALL SELECT 1) S "
            "ON T.id = S.id WHEN MATCHED THEN UPDATE SET bal = 0;",
        )
    # copy-on-write: the failed statement must not have touched storage
    assert state(spark, cat) == before


def test_merge_keep_dedup(spark, cat):
    # a target row matching several source rows, none modifying,
    # must survive exactly once
    seed(spark, cat)
    run(
        spark,
        cat,
        "MERGE INTO `p.d.t` T USING (SELECT 1 AS id, 'x' AS tag "
        "UNION ALL SELECT 1, 'y') S ON T.id = S.id "
        "WHEN MATCHED AND S.tag = 'nope' THEN UPDATE SET bal = 999;",
    )
    assert state(spark, cat) == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", -5.0)]


def test_update_from_desugars_to_merge(spark, cat):
    seed(spark, cat)
    run(
        spark,
        cat,
        "UPDATE `p.d.t` T SET bal = S.nv FROM (SELECT 2 AS id, 777.0 AS nv) S "
        "WHERE T.id = S.id;",
    )
    assert (2, "b", 777.0) in state(spark, cat)
    assert (1, "a", 10.0) in state(spark, cat)


# -- execution: session-catalog targets -----------------------------------


def test_dml_on_ctas_table(spark, cat):
    run(
        spark,
        cat,
        """
        CREATE OR REPLACE TABLE `p.d.sess` AS
        SELECT * FROM (SELECT 1 AS id, 10 AS v UNION ALL SELECT 2, 20);
        UPDATE `p.d.sess` SET v = 0 WHERE id = 2;
        DELETE FROM `p.d.sess` WHERE id = 1;
        """,
    )
    assert [tuple(r) for r in spark.table("p__d__sess").collect()] == [(2, 0)]


def test_dml_target_missing(spark, cat):
    with pytest.raises(WorkerException, match="not found"):
        run(spark, cat, "DELETE FROM `p.d.absent` WHERE true;")


def test_dml_dry_run_does_not_execute(spark, cat):
    seed(spark, cat)
    before = state(spark, cat)
    run(spark, cat, "DELETE FROM `p.d.t` WHERE true;", dry_run=True)
    assert state(spark, cat) == before


# -- programmatic upsert + streaming CDC sink ------------------------------


def test_merge_upsert_batch_creates_then_upserts(spark, cat):
    from crmint_spark.dml import merge_upsert_batch

    b1 = spark.sql("SELECT 1 AS id, CAST(10.0 AS DOUBLE) AS v UNION ALL SELECT 2, 20.0")
    merge_upsert_batch(cat, "p.d.up", b1, ["id"])
    b2 = spark.sql("SELECT 2 AS id, CAST(99.0 AS DOUBLE) AS v UNION ALL SELECT 3, 30.0")
    merge_upsert_batch(cat, "p.d.up", b2, ["id"])
    assert sorted(map(tuple, cat.read("p.d.up").collect())) == [
        (1, 10.0),
        (2, 99.0),
        (3, 30.0),
    ]


def test_streaming_merge_upsert_incremental(spark, cat, tmp_path):
    """Two availableNow drains over a growing directory: the second run
    only processes the new file (checkpoint), and its keys upsert into
    the table while untouched keys keep their values."""
    import pyspark.sql.functions as F

    from crmint_spark.streaming import events as sevents

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    spark.sql(
        "SELECT 'u1' AS user_id, CAST(5.0 AS DOUBLE) AS value UNION ALL "
        "SELECT 'u2', 7.0"
    ).coalesce(1).write.mode("overwrite").json(str(src / "f1"))

    def totals_stream():
        schema = "user_id string, value double"
        stream = (
            spark.readStream.schema(schema).json(str(src / "*"))
        )
        return stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )

    sevents.run_merge_upsert(totals_stream(), cat, "p.d.totals", ["user_id"], ckpt)
    first = dict(
        (r["user_id"], (r["n"], r["total"]))
        for r in cat.read("p.d.totals").collect()
    )
    assert first == {"u1": (1, 5.0), "u2": (1, 7.0)}

    spark.sql(
        "SELECT 'u2' AS user_id, CAST(3.0 AS DOUBLE) AS value UNION ALL "
        "SELECT 'u3', 1.0"
    ).coalesce(1).write.mode("overwrite").json(str(src / "f2"))
    sevents.run_merge_upsert(totals_stream(), cat, "p.d.totals", ["user_id"], ckpt)
    second = dict(
        (r["user_id"], (r["n"], r["total"]))
        for r in cat.read("p.d.totals").collect()
    )
    # u1 untouched by batch 2 but keeps its row; u2 updated; u3 inserted
    assert second == {"u1": (1, 5.0), "u2": (2, 10.0), "u3": (1, 1.0)}


# ---------------------------------------------------------------------------
# FOR SYSTEM_TIME AS OF (time-travel version store)
# ---------------------------------------------------------------------------


def _seed(spark, cat, table="p.d.tt", n=20):
    df = spark.range(n).selectExpr("id", "CAST(id * 10 AS DOUBLE) AS bal")
    cat.write(df, table)
    return df


def test_time_travel_select_pre_dml_state(spark, cat):
    _seed(spark, cat)
    w = run(
        spark,
        cat,
        """
        DECLARE t0 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();
        UPDATE `p.d.tt` SET bal = 0 WHERE TRUE;
        SELECT (SELECT SUM(bal) FROM `p.d.tt`) AS now_sum,
               (SELECT SUM(bal) FROM `p.d.tt` FOR SYSTEM_TIME AS OF t0)
                 AS then_sum
        """,
    )
    r = w.result.first()
    assert r["now_sum"] == 0.0
    assert r["then_sum"] == sum(i * 10 for i in range(20))


def test_time_travel_picks_correct_version_of_many(spark, cat):
    """Three mutations; AS OF between each resolves the right state
    (smallest archive timestamp AFTER the instant)."""
    _seed(spark, cat, n=5)
    w = run(
        spark,
        cat,
        """
        DECLARE t0 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();
        UPDATE `p.d.tt` SET bal = 1 WHERE TRUE;
        SET t0 = t0;  -- no-op to keep script shape obvious
        DECLARE t1 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();
        UPDATE `p.d.tt` SET bal = 2 WHERE TRUE;
        DECLARE t2 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();
        UPDATE `p.d.tt` SET bal = 3 WHERE TRUE;
        SELECT
          (SELECT SUM(bal) FROM `p.d.tt` FOR SYSTEM_TIME AS OF t0) AS s0,
          (SELECT SUM(bal) FROM `p.d.tt` FOR SYSTEM_TIME AS OF t1) AS s1,
          (SELECT SUM(bal) FROM `p.d.tt` FOR SYSTEM_TIME AS OF t2) AS s2,
          (SELECT SUM(bal) FROM `p.d.tt`) AS s3
        """,
    )
    r = w.result.first()
    assert (r["s0"], r["s1"], r["s2"], r["s3"]) == (100.0, 5.0, 10.0, 15.0)


def test_time_travel_zero_copy_versions(spark, cat):
    """Archived versions hardlink the live parquet files: same inodes,
    so snapshot cost scales with file count, never bytes."""
    import os

    _seed(spark, cat)
    live = cat.path_for("p.d.tt")
    inodes_before = {
        f: os.stat(os.path.join(live, f)).st_ino
        for f in os.listdir(live)
        if f.endswith(".parquet")
    }
    run(spark, cat, "DELETE FROM `p.d.tt` WHERE id < 5")
    vroot = cat._versions_root("p.d.tt")
    versions = [d for d in os.listdir(vroot) if d.isdigit()]
    assert len(versions) == 1
    vdir = os.path.join(vroot, versions[0])
    archived = {
        f: os.stat(os.path.join(vdir, f)).st_ino
        for f in os.listdir(vdir)
        if f.endswith(".parquet")
    }
    # the swap MOVED the old directory: identical inodes, zero copies
    assert archived == inodes_before


def test_time_travel_before_creation_errors(spark, cat):
    _seed(spark, cat)
    # in-window but pre-creation: the existence error
    with pytest.raises(WorkerException, match="did not exist"):
        run(
            spark,
            cat,
            "SELECT * FROM `p.d.tt` FOR SYSTEM_TIME AS OF"
            " TIMESTAMP_SUB(CURRENT_TIMESTAMP(), INTERVAL 1 HOUR)",
        )
    # beyond the retention window: the window error fires first
    # (BigQuery's contract — VERDICT r6 #2)
    with pytest.raises(WorkerException, match="time travel window"):
        run(
            spark,
            cat,
            "SELECT * FROM `p.d.tt` FOR SYSTEM_TIME AS OF TIMESTAMP '2001-01-01'",
        )


def test_time_travel_recreate_resets_history(spark, cat):
    """Dropping and recreating a table resets its time-travel history
    (BigQuery contract): the old state is no longer reachable."""
    _seed(spark, cat)
    run(spark, cat, "UPDATE `p.d.tt` SET bal = 7 WHERE TRUE")
    run(spark, cat, "DROP TABLE `p.d.tt`")
    _seed(spark, cat, n=3)
    with pytest.raises(WorkerException, match="did not exist"):
        run(
            spark,
            cat,
            "SELECT * FROM `p.d.tt` FOR SYSTEM_TIME AS OF"
            " TIMESTAMP_SUB(CURRENT_TIMESTAMP(), INTERVAL 1 HOUR)",
        )
    # current state readable, history starts at the recreation
    assert cat.read("p.d.tt").count() == 3


def test_time_travel_write_append_archives(spark, cat):
    _seed(spark, cat, n=4)
    w = run(
        spark,
        cat,
        """
        DECLARE t0 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();
        INSERT INTO `p.d.tt` (id, bal) VALUES (100, 1.5);
        SELECT (SELECT COUNT(*) FROM `p.d.tt`) AS now_n,
               (SELECT COUNT(*) FROM `p.d.tt` FOR SYSTEM_TIME AS OF t0) AS then_n
        """,
    )
    r = w.result.first()
    assert (r["now_n"], r["then_n"]) == (5, 4)


def test_time_travel_clone_as_of(spark, cat):
    _seed(spark, cat, n=6)
    w = run(
        spark,
        cat,
        """
        DECLARE t0 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();
        UPDATE `p.d.tt` SET bal = -9 WHERE TRUE;
        CREATE TABLE `p.d.tt_snap` CLONE `p.d.tt` FOR SYSTEM_TIME AS OF t0;
        SELECT SUM(bal) AS s FROM `p.d.tt_snap`
        """,
    )
    assert w.result.first()["s"] == sum(i * 10 for i in range(6))


def test_time_travel_random_mutation_history(spark, cat):
    """Model-based check of the version store: a random sequence of
    truncate-write / append / DML-update / drop / recreate mutations,
    with the expected row-multiset recorded between each pair — every
    instant strictly inside a gap must resolve to exactly the recorded
    state, pre-creation instants must error, and instants after a drop
    (with no recreate) must error. Deterministic op sequence derived
    from a fixed seed (a Spark-side hypothesis run would be too slow;
    the op mix covers every mutation class)."""
    import random
    import time

    rng = random.Random(20260815)
    run = lambda s: SparkSQLExecutor(  # noqa: E731
        {"script": s, "dry_run": False},
        WorkerContext(spark=spark, catalog=cat),
    ).execute()

    def now_us():
        return time.time_ns() // 1000

    def write(vals, mode="WRITE_TRUNCATE"):
        df = spark.createDataFrame([(v,) for v in vals], "id long")
        cat.write(df, "p.d.hist", mode)

    def snapshot_rows():
        return sorted(
            r["id"] for r in cat.read("p.d.hist").collect()
        )

    # (t_before, expected_state_or_None) checkpoints; None = dropped
    checkpoints = []
    state: list[int] | None = None
    exists = False
    t_pre_creation = now_us()
    time.sleep(0.002)
    for step in range(10):
        op = rng.choice(
            ["truncate", "append", "update", "drop"]
            if exists
            else ["create"]
        )
        if op == "create":
            vals = [rng.randrange(100) for _ in range(5)]
            write(vals)
            state, exists = sorted(vals), True
        elif op == "truncate":
            vals = [rng.randrange(100) for _ in range(4)]
            write(vals)
            state = sorted(vals)
        elif op == "append":
            vals = [rng.randrange(100) for _ in range(3)]
            write(vals, "WRITE_APPEND")
            state = sorted(state + vals)
        elif op == "update":
            run("UPDATE `p.d.hist` SET id = id + 1000 WHERE id < 50")
            state = sorted(
                v + 1000 if v < 50 else v for v in state
            )
        else:  # drop
            run("DROP TABLE `p.d.hist`")
            state, exists = None, False
        assert (snapshot_rows() if exists else None) == state
        time.sleep(0.002)
        checkpoints.append((now_us(), list(state) if state else state))
        time.sleep(0.002)

    # replay: each checkpoint instant must resolve to its recorded state
    recreated_after = None
    for i, (t, expected) in enumerate(checkpoints):
        # a later recreation resets history (BigQuery contract): skip
        # instants before the most recent creation
        later_creates = [
            j for j in range(i + 1, len(checkpoints))
            if checkpoints[j - 1][1] is None and checkpoints[j][1] is not None
        ]
        if later_creates:
            continue
        if expected is None:
            with pytest.raises((ValueError, WorkerException)):
                cat.resolve_as_of("p.d.hist", t)
            continue
        path = cat.resolve_as_of("p.d.hist", t)
        got = sorted(
            r["id"] for r in spark.read.parquet(path).collect()
        )
        assert got == expected, (i, got, expected)
    # pre-creation errors (unless history was reset by a recreation,
    # in which case it still errors — created marker moved later)
    with pytest.raises(ValueError):
        cat.resolve_as_of("p.d.hist", t_pre_creation)


def test_time_travel_retention_prunes_and_errors(spark):
    """Retention GC (VERDICT r6 #2): versions older than the window are
    pruned from disk at archive time, as-of instants beyond the window
    raise, and in-window resolution is unchanged."""
    import os
    import time

    root = tempfile.mkdtemp(prefix="dml_ret_")
    c = Catalog(spark, root, time_travel_hours=1.0 / 3600)  # 1 s window
    c.write(
        spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS bal"),
        "p.d.rt",
    )
    run(spark, c, "UPDATE `p.d.rt` SET bal = 1 WHERE TRUE")  # archives v1
    vroot = c._versions_root("p.d.rt")
    assert len([d for d in os.listdir(vroot) if d.isdigit()]) == 1
    time.sleep(1.2)  # v1 expires
    run(spark, c, "UPDATE `p.d.rt` SET bal = 2 WHERE TRUE")  # archives v2
    digits = [d for d in os.listdir(vroot) if d.isdigit()]
    assert len(digits) == 1, digits  # (a) expired version pruned
    with pytest.raises(WorkerException, match="time travel window"):
        run(
            spark,
            c,
            "SELECT * FROM `p.d.rt` FOR SYSTEM_TIME AS OF"
            " TIMESTAMP_SUB(CURRENT_TIMESTAMP(), INTERVAL 10 SECOND)",
        )  # (b) out-of-window instant errors
    # (c) in-window resolution unchanged: the fresh v2 pre-image serves
    w = run(
        spark,
        c,
        "SELECT SUM(bal) AS s FROM `p.d.rt` FOR SYSTEM_TIME AS OF"
        " TIMESTAMP_SUB(CURRENT_TIMESTAMP(), INTERVAL 500 MILLISECOND)",
    )
    assert w.result.first()["s"] == 5.0  # bal = 1 state (5 rows)


def test_time_travel_vacuum_and_storage_cleaner_hook(spark):
    """vacuum_versions prunes expired versions of tables that are no
    longer mutated; the StorageCleaner vacuum_time_travel hook drives
    it."""
    import os
    import time

    from crmint_spark.workers.storage_cleaner import StorageCleaner

    root = tempfile.mkdtemp(prefix="dml_vac_")
    c = Catalog(spark, root, time_travel_hours=1.0 / 3600)
    c.write(
        spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS bal"),
        "p.d.vt",
    )
    run(spark, c, "UPDATE `p.d.vt` SET bal = 9 WHERE TRUE")
    vroot = c._versions_root("p.d.vt")
    assert len([d for d in os.listdir(vroot) if d.isdigit()]) == 1
    time.sleep(1.2)
    w = StorageCleaner(
        {"file_patterns": [], "vacuum_time_travel": True},
        WorkerContext(spark=spark, catalog=c),
    )
    w.execute()
    assert [d for d in os.listdir(vroot) if d.isdigit()] == []
    assert any("vacuumed 1 expired" in line for line in w.log), w.log
    # live table untouched
    assert c.read("p.d.vt").count() == 3


def test_alter_schema_max_time_travel_hours(spark):
    """ALTER SCHEMA ... SET OPTIONS(max_time_travel_hours=N) configures
    the catalog's retention window (BigQuery's contract: 48..168 h);
    out-of-range values raise; other options stay metadata-only."""
    c = Catalog(spark, tempfile.mkdtemp(prefix="dml_ttl_"))
    w = run(
        spark,
        c,
        "ALTER SCHEMA `p.d` SET OPTIONS(max_time_travel_hours = 48)",
    )
    assert c.time_travel_hours == 48.0
    assert any("retention set to 48 h" in line for line in w.log), w.log
    with pytest.raises(WorkerException, match="multiple of 24"):
        run(
            spark,
            c,
            "ALTER SCHEMA `p.d` SET OPTIONS(max_time_travel_hours = 24)",
        )
    with pytest.raises(WorkerException, match="multiple of 24"):
        run(
            spark,
            c,
            "ALTER SCHEMA `p.d` SET OPTIONS(max_time_travel_hours = 50)",
        )
    assert c.time_travel_hours == 48.0
    w2 = run(
        spark,
        c,
        "ALTER SCHEMA `p.d` SET OPTIONS(description = 'x')",
    )
    assert any("metadata-only" in line for line in w2.log)
    # the option token inside a STRING value stays metadata-only
    # (review finding r7b: the old whole-statement regex matched it)
    w3 = run(
        spark,
        c,
        "ALTER SCHEMA `p.d` SET OPTIONS("
        "description = 'todo: max_time_travel_hours=3 later')",
    )
    assert any("metadata-only" in line for line in w3.log)
    assert c.time_travel_hours == 48.0
    # TABLE options have no such key: metadata-only, window untouched
    w4 = run(
        spark,
        c,
        "ALTER TABLE `p.d.t` SET OPTIONS(max_time_travel_hours = 72)",
    )
    assert any("metadata-only" in line for line in w4.log)
    assert c.time_travel_hours == 48.0


# ---------------------------------------------------------------------------
# change-history TVFs (round 8): APPENDS / CHANGES reconstructed from
# the time-travel version store


def test_changes_tvf_insert_delete_update(spark, cat):
    """CHANGES returns the value-level diff per mutation instant: an
    INSERT contributes INSERT rows, a DELETE contributes DELETE rows,
    an UPDATE its DELETE+INSERT pair; creation is an INSERT of the
    initial rows; a start bound excludes earlier events."""
    seed(spark, cat)
    w = run(
        spark,
        cat,
        "DECLARE t0 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();"
        "INSERT INTO `p.d.t` VALUES (4, 'd', 40.0);"
        "DELETE FROM `p.d.t` WHERE id = 2;"
        "UPDATE `p.d.t` SET bal = 99.0 WHERE id = 1;"
        "SELECT _CHANGE_TYPE AS ct, id, seg, bal"
        " FROM CHANGES(TABLE `p.d.t`, t0, NULL) ORDER BY ct, id, bal",
    )
    assert any("change history" in line for line in w.log)
    got = [tuple(r) for r in w.result.collect()]
    assert got == [
        ("DELETE", 1, "a", 10.0),   # update pre-image
        ("DELETE", 2, "b", 20.0),   # deleted row
        ("INSERT", 1, "a", 99.0),   # update post-image
        ("INSERT", 4, "d", 40.0),   # inserted row
    ], got
    # NULL start includes creation: the three seed rows appear too
    w2 = run(
        spark, cat,
        "SELECT COUNT(*) AS n FROM CHANGES(TABLE `p.d.t`, NULL, NULL)"
        " WHERE _CHANGE_TYPE = 'INSERT'",
    )
    assert w2.result.first()["n"] == 3 + 2  # creation(3) + insert + update


def test_appends_tvf_excludes_deletes_and_window(spark, cat):
    """APPENDS is the insert-only shape; an end bound excludes later
    mutations; _CHANGE_TIMESTAMP orders the history."""
    seed(spark, cat)
    w = run(
        spark,
        cat,
        "DECLARE t0 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();"
        "INSERT INTO `p.d.t` VALUES (4, 'd', 40.0);"
        "DECLARE t1 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();"
        "DELETE FROM `p.d.t` WHERE id <= 2;"
        "SELECT _CHANGE_TYPE AS ct, id FROM APPENDS(TABLE `p.d.t`, t0, t1)"
        " ORDER BY id",
    )
    got = [tuple(r) for r in w.result.collect()]
    assert got == [("INSERT", 4)], got  # no DELETE rows, window-bounded
    # distinct change timestamps are monotone in mutation order
    w2 = run(
        spark, cat,
        "SELECT COUNT(DISTINCT _CHANGE_TIMESTAMP) AS k"
        " FROM CHANGES(TABLE `p.d.t`, NULL, NULL)",
    )
    assert w2.result.first()["k"] == 3  # creation, insert, delete


def test_changes_tvf_out_of_window_start_raises(spark, cat):
    seed(spark, cat)
    with pytest.raises(WorkerException, match="time travel window"):
        run(
            spark, cat,
            "SELECT * FROM CHANGES(TABLE `p.d.t`,"
            " TIMESTAMP '2000-01-01 00:00:00', NULL)",
        )


def test_changes_tvf_on_partitioned_table_after_pruned_dml(spark, cat):
    """The version store holds COMPLETE pre-images even under the
    partition-pruned copy-on-write (untouched directories ride both
    sides as hardlinks), so CHANGES over a PARTITION BY table sees
    exactly the pruned mutation's diff."""
    from crmint_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    run(
        spark, cat,
        "CREATE OR REPLACE TABLE p.d.pch PARTITION BY"
        " DATE_TRUNC(o_orderdate, MONTH) AS"
        " SELECT o_orderkey, o_orderdate, o_totalprice FROM orders",
    )
    w = run(
        spark, cat,
        "DECLARE t0 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();"
        "UPDATE `p.d.pch` SET o_totalprice = -1"
        " WHERE DATE(o_orderdate) BETWEEN DATE '1995-03-01'"
        " AND DATE '1995-03-31';"
        "SELECT _CHANGE_TYPE AS ct, COUNT(*) AS n"
        " FROM CHANGES(TABLE `p.d.pch`, t0, NULL)"
        " GROUP BY ct ORDER BY ct",
    )
    assert any("pruned copy-on-write" in line for line in w.log)
    march = (
        cat.read("p.d.pch")
        .filter("o_orderdate >= TIMESTAMP '1995-03-01'"
                " AND o_orderdate < TIMESTAMP '1995-04-01'")
        .count()
    )
    got = {r["ct"]: r["n"] for r in w.result.collect()}
    assert got == {"DELETE": march, "INSERT": march}, got


def test_pruned_merge_nondeterministic_source_falls_back(spark, cat):
    """The USING source is evaluated twice under pruning (probe +
    rewrite), so a RAND()-sampled or CURRENT_TIMESTAMP-stamped source
    must take the single-pass full rewrite (review finding r8)."""
    from crmint_spark.catalog import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    run(
        spark, cat,
        "CREATE OR REPLACE TABLE p.d.ndm PARTITION BY"
        " DATE_TRUNC(o_orderdate, MONTH) AS"
        " SELECT o_orderkey, o_orderdate, o_totalprice FROM orders",
    )
    before = sorted(
        tuple(r) for r in cat.read("p.d.ndm").collect()
    )
    w = run(
        spark, cat,
        "MERGE INTO `p.d.ndm` T USING ("
        " SELECT o_orderkey AS k FROM orders WHERE RAND() < -1) S"
        " ON T.o_orderkey = S.k"
        " WHEN MATCHED THEN UPDATE SET o_totalprice = 0",
    )
    assert not any("pruned copy-on-write" in l for l in w.log), w.log
    assert sorted(tuple(r) for r in cat.read("p.d.ndm").collect()) == before
    w2 = run(
        spark, cat,
        "MERGE INTO `p.d.ndm` T USING ("
        " SELECT o_orderkey AS k FROM orders"
        " WHERE o_orderdate > CURRENT_TIMESTAMP()) S"
        " ON T.o_orderkey = S.k"
        " WHEN MATCHED THEN UPDATE SET o_totalprice = 0",
    )
    assert not any("pruned copy-on-write" in l for l in w2.log), w2.log


def test_merge_upsert_batch_nondeterministic_plan_falls_back(spark, cat):
    """A batch whose plan carries rand() must not take the two-pass
    pruned path (review finding r8) — and must still upsert correctly."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.dml import _plan_nondeterministic, merge_upsert_batch

    register_testdata(spark, "/root/testdata/sf0.001")
    run(
        spark, cat,
        "CREATE OR REPLACE TABLE p.d.ndb PARTITION BY"
        " DATE_TRUNC(o_orderdate, MONTH) AS"
        " SELECT o_orderkey, o_orderdate, o_totalprice FROM orders",
    )
    batch = spark.sql(
        "SELECT o_orderkey, o_orderdate, o_totalprice * 0 AS o_totalprice"
        " FROM orders WHERE RAND() >= 0 AND o_orderkey = 1"
    )
    assert _plan_nondeterministic(batch)
    stable = spark.sql(
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders"
        " WHERE o_orderkey = 1"
    )
    assert not _plan_nondeterministic(stable)
    merge_upsert_batch(cat, "p.d.ndb", batch, ["o_orderkey"])
    got = cat.read("p.d.ndb").filter("o_orderkey = 1").first()
    assert got["o_totalprice"] == 0.0


def test_change_history_after_schema_evolving_truncate(spark, cat):
    """A truncating write that EVOLVES the schema of a partitioned
    table leaves pre-images without the new column; change history
    aligns them onto the current columns (missing -> NULL) instead of
    crashing (review finding r8)."""
    from pyspark.sql import functions as F

    seed(spark, cat)
    cat.write(
        spark.sql(
            "SELECT 1 AS id, 'a' AS seg, CAST(10.0 AS DOUBLE) AS bal,"
            " 'x' AS extra"
        ),
        "p.d.t",
        "WRITE_TRUNCATE",
    )
    w = run(
        spark, cat,
        "SELECT _CHANGE_TYPE AS ct, id, extra"
        " FROM CHANGES(TABLE `p.d.t`, NULL, NULL)"
        " WHERE id = 1 ORDER BY ct, extra NULLS FIRST",
    )
    got = [tuple(r) for r in w.result.collect()]
    # creation INSERT (pre-evolution: extra NULL), truncate's DELETE of
    # the old image (extra NULL) and INSERT of the new one
    assert ("INSERT", 1, None) in got and ("INSERT", 1, "x") in got, got
    assert ("DELETE", 1, None) in got, got


def test_insert_from_appends_tvf(spark, cat):
    """INSERT INTO ... SELECT FROM APPENDS(...) — replaying captured
    changes into another table, the TVFs' canonical composition — routes
    inside the DML source (review finding r8)."""
    seed(spark, cat)
    cat.write(spark.sql("SELECT 0 AS id LIMIT 0"), "p.d.sink")
    w = run(
        spark, cat,
        "DECLARE t0 TIMESTAMP DEFAULT CURRENT_TIMESTAMP();"
        "INSERT INTO `p.d.t` VALUES (7, 'z', 70.0);"
        "INSERT INTO `p.d.sink`"
        " SELECT id FROM APPENDS(TABLE `p.d.t`, t0, NULL);"
        "SELECT id FROM `p.d.sink` ORDER BY id",
    )
    assert [r["id"] for r in w.result.collect()] == [7]


def test_changes_tvf_dashed_project_name(spark):
    """Unquoted dashed project ids parse like every other table regex
    in the executor (review finding r8)."""
    c = Catalog(spark, tempfile.mkdtemp(prefix="dml_dash_"))
    c.write(spark.sql("SELECT 1 AS id"), "my-proj.d.t")
    w = run(
        spark, c,
        "SELECT _CHANGE_TYPE AS ct, id"
        " FROM CHANGES(TABLE my-proj.d.t, NULL, NULL)",
    )
    assert [tuple(r) for r in w.result.collect()] == [("INSERT", 1)]


def test_mask_literals_masks_double_quoted_strings():
    from crmint_spark.sqllex import mask
    from crmint_spark.workers.sql_executor import _NOW_FN_RE

    masked = mask("seg = \"current_date\" AND x = 'current_timestamp'")
    assert not _NOW_FN_RE.search(masked), masked


# -- jobs plane: dml_statistics / @@row_count / INFORMATION_SCHEMA.JOBS ----


def _jobs(spark, cat, where="1=1"):
    return run(
        spark, cat,
        "SELECT job_id, statement_type, state, query,"
        " destination_table, dml_statistics, error_result"
        f" FROM `p.d.INFORMATION_SCHEMA.JOBS` WHERE {where}"
        " ORDER BY job_id",
    ).result.collect()


def test_dml_statistics_update_delete_insert(spark, cat):
    seed(spark, cat)
    run(
        spark, cat,
        "UPDATE `p.d.t` SET bal = bal + 1 WHERE bal > 0;"
        "DELETE FROM `p.d.t` WHERE bal < 0;"
        "INSERT INTO `p.d.t` VALUES (4, 'd', 40.0), (5, 'e', 50.0)",
    )
    rows = _jobs(spark, cat, "dml_statistics IS NOT NULL")
    got = [
        (r["statement_type"], tuple(r["dml_statistics"])) for r in rows
    ]
    assert got == [
        ("UPDATE", (0, 0, 2)),
        ("DELETE", (0, 1, 0)),
        ("INSERT", (2, 0, 0)),
    ]


def test_dml_statistics_merge_counts_all_three(spark, cat):
    seed(spark, cat)
    run(
        spark, cat,
        "MERGE `p.d.t` t USING ("
        " SELECT 1 AS id UNION ALL SELECT 3 UNION ALL SELECT 9) s"
        " ON t.id = s.id"
        " WHEN MATCHED AND t.bal < 0 THEN DELETE"
        " WHEN MATCHED THEN UPDATE SET bal = t.bal * 2"
        " WHEN NOT MATCHED THEN INSERT (id, seg, bal)"
        "   VALUES (s.id, 'new', 0.0)",
    )
    (row,) = _jobs(spark, cat, "statement_type = 'MERGE'")
    assert tuple(row["dml_statistics"]) == (1, 1, 1)
    # and the merged state is unchanged by the counting plane
    assert state(spark, cat) == [
        (1, "a", 20.0),
        (2, "b", 20.0),
        (9, "new", 0.0),
    ]


def test_dml_statistics_truncate_reports_preimage(spark, cat):
    seed(spark, cat)
    run(spark, cat, "TRUNCATE TABLE `p.d.t`")
    (row,) = _jobs(spark, cat, "statement_type = 'TRUNCATE_TABLE'")
    assert tuple(row["dml_statistics"]) == (0, 3, 0)


def test_row_count_system_variable(spark, cat):
    seed(spark, cat)
    w = run(
        spark, cat,
        "SELECT @@row_count AS before_any;"
        "UPDATE `p.d.t` SET bal = 0 WHERE bal > 0;"
        "SET x = @@row_count;"
        "ASSERT @@row_count = 2;"
        "DELETE FROM `p.d.t` WHERE id = 1;"
        "SELECT x AS after_update, @@row_count AS after_delete",
    )
    assert [tuple(r) for r in w.result.collect()] == [(2, 1)]


def test_row_count_not_replaced_inside_string_literal(spark, cat):
    seed(spark, cat)
    w = run(
        spark, cat,
        "UPDATE `p.d.t` SET bal = 0 WHERE id = 1;"
        "SELECT '@@row_count' AS s, @@row_count AS n",
    )
    assert [tuple(r) for r in w.result.collect()] == [("@@row_count", 1)]


def test_row_count_in_execute_immediate(spark, cat):
    """System variables resolve inside dynamic SQL, which deliberately
    skips script-VARIABLE substitution."""
    seed(spark, cat)
    w = run(
        spark, cat,
        "DECLARE n INT64;"
        "DELETE FROM `p.d.t` WHERE bal < 0;"
        "EXECUTE IMMEDIATE 'SELECT @@row_count' INTO n;"
        "SELECT n",
    )
    assert w.result.collect()[0][0] == 1


def test_pruned_dml_statistics_match_full_rewrite(spark, cat):
    """The partition-pruned copy-on-write paths count through the same
    Observation plane as the full rewrite, and a predicate matching no
    partition reports explicit zeros."""
    cat.write(
        spark.sql(
            "SELECT id, CAST(CONCAT('2024-0', 1 + id % 3, '-15') AS DATE)"
            " AS d, CAST(id AS DOUBLE) AS v FROM RANGE(30)"
        ),
        "p.d.seed_part",
    )
    run(
        spark, cat,
        "CREATE OR REPLACE TABLE p.d.part PARTITION BY DATE_TRUNC(d, MONTH)"
        " AS SELECT * FROM `p.d.seed_part`;"
        "UPDATE `p.d.part` SET v = v + 1"
        " WHERE d >= DATE '2024-02-01' AND d < DATE '2024-03-01';"
        "DELETE FROM `p.d.part`"
        " WHERE d >= DATE '2024-03-01' AND d < DATE '2024-04-01' AND id < 10;"
        "DELETE FROM `p.d.part` WHERE d >= DATE '2030-01-01'",
    )
    rows = _jobs(spark, cat, "dml_statistics IS NOT NULL")
    got = [(r["statement_type"], tuple(r["dml_statistics"])) for r in rows]
    # months cycle 1+id%3: Feb holds the 10 ids with id%3==1; March the
    # ids with id%3==2, of which 2,5,8 are < 10; 2030 hits no partition
    # (the pruned no-op path must still report explicit zeros)
    assert got == [
        ("UPDATE", (0, 0, 10)),
        ("DELETE", (0, 3, 0)),
        ("DELETE", (0, 0, 0)),
    ]


def test_jobs_view_records_failures_and_destinations(spark, cat):
    seed(spark, cat)
    import pytest as _pytest

    with _pytest.raises(Exception):
        run(spark, cat, "SELECT broken_column FROM `p.d.t`")
    rows = _jobs(spark, cat, "error_result IS NOT NULL")
    assert len(rows) == 1
    assert rows[0]["state"] == "DONE"  # BigQuery: failed jobs stay DONE
    assert rows[0]["error_result"]["message"]
    run(spark, cat, "UPDATE `p.d.t` SET bal = 0 WHERE id = 1")
    (upd,) = _jobs(spark, cat, "statement_type = 'UPDATE'")
    assert tuple(upd["destination_table"]) == ("p", "d", "t")


def test_statement_type_classifier():
    from crmint_spark.workers.sql_executor import classify_statement_type as c

    assert c("SELECT 1") == "SELECT"
    assert c("WITH a AS (SELECT 1) SELECT * FROM a") == "SELECT"
    assert c("INSERT INTO t VALUES (1)") == "INSERT"
    assert c("CREATE OR REPLACE TABLE t AS SELECT 1") == "CREATE_TABLE_AS_SELECT"
    assert c("CREATE TABLE t (x INT64)") == "CREATE_TABLE"
    assert c("CREATE SNAPSHOT TABLE s CLONE t") == "CREATE_SNAPSHOT_TABLE"
    assert c("CREATE MATERIALIZED VIEW mv AS SELECT 1") == "CREATE_MATERIALIZED_VIEW"
    assert c("CREATE OR REPLACE MODEL m OPTIONS() AS SELECT 1") == "CREATE_MODEL"
    assert c("CREATE TEMP FUNCTION f() AS (1)") == "CREATE_FUNCTION"
    assert c("EXPORT DATA OPTIONS() AS SELECT 1") == "EXPORT_DATA"
    assert c("LOAD DATA INTO t FROM FILES()") == "LOAD_DATA"
    assert c("TRUNCATE TABLE t") == "TRUNCATE_TABLE"
    assert c("DROP TABLE IF EXISTS t") == "DROP_TABLE"
    assert c("ALTER TABLE t ADD COLUMN c INT64") == "ALTER_TABLE"
    assert c("BEGIN TRANSACTION") == "BEGIN_TRANSACTION"
    assert c("ASSERT 1 = 1") == "ASSERT"


def test_statement_type_reads_past_a_leading_comment(spark, cat):
    """EXECUTE IMMEDIATE text that opens with a comment is still a
    SELECT job (it was recorded as 'SCRIPT')."""
    seed(spark, cat)
    run(
        spark, cat,
        "EXECUTE IMMEDIATE '/* note */ SELECT id FROM `p.d.t`';"
        "EXECUTE IMMEDIATE 'SELECT id FROM `p.d.t`'",
    )
    rows = _jobs(spark, cat, "query LIKE '%SELECT id FROM%'")
    assert [r["statement_type"] for r in rows] == ["SELECT", "SELECT"]


def test_region_qualifier_quoted_apart_reads_jobs(spark, cat):
    """A region qualifier quoted apart from the view name reads the jobs
    view like the one-piece quoted name (it failed with
    REQUIRES_SINGLE_PART_NAMESPACE)."""
    seed(spark, cat)
    run(spark, cat, "UPDATE `p.d.t` SET bal = 0 WHERE id = 1")
    got = [
        run(
            spark, cat,
            f"SELECT statement_type FROM {name}"
            " WHERE statement_type = 'UPDATE'",
        ).result.collect()
        for name in (
            "`region-us`.INFORMATION_SCHEMA.JOBS",
            "`region-us.INFORMATION_SCHEMA.JOBS`",
        )
    ]
    assert got[0] == got[1] and len(got[0]) == 1


def test_leading_comment_does_not_defeat_routing(spark, cat):
    """Statements are routed on their head keyword; a comment attached
    to the statement's first line must be stripped by split_script or
    ASSERT/DML routing silently falls through to spark.sql."""
    seed(spark, cat)
    w = run(
        spark, cat,
        "UPDATE `p.d.t` SET bal = 0 WHERE id = 1;  -- trailing note\n"
        "-- leading comment\n"
        "ASSERT @@row_count = 1;\n"
        "/* block comment */ DELETE FROM `p.d.t` WHERE id = 2;\n"
        "-- pure-comment statement drops entirely;\n"
        "SELECT COUNT(*) AS n FROM `p.d.t`",
    )
    assert w.result.collect()[0][0] == 2


def test_table_storage_byte_accounting(spark, cat):
    """TABLE_STORAGE's machine-dependent columns: live bytes counted,
    time-travel bytes appear after a copy-on-write mutation, and
    hardlinked pre-image files (shared inodes) are NOT double-billed."""
    seed(spark, cat)
    w0 = run(
        spark, cat,
        "SELECT active_physical_bytes AS ab, time_travel_physical_bytes"
        " AS tb, creation_time FROM `p.d.INFORMATION_SCHEMA.TABLE_STORAGE`",
    )
    r0 = w0.result.collect()[0]
    assert r0["ab"] > 0 and r0["tb"] == 0
    assert r0["creation_time"] is not None
    # copy-on-write UPDATE renames the old files into the version store:
    # those inodes are no longer in the live dir, so they bill as
    # time-travel physical bytes
    run(spark, cat, "UPDATE `p.d.t` SET bal = 0 WHERE id = 1")
    r1 = run(
        spark, cat,
        "SELECT active_physical_bytes AS ab, time_travel_physical_bytes"
        " AS tb, total_physical_bytes AS tot"
        " FROM `p.d.INFORMATION_SCHEMA.TABLE_STORAGE`",
    ).result.collect()[0]
    assert r1["tb"] > 0
    assert r1["tot"] == r1["ab"] + r1["tb"]
    # an APPEND archives by HARDLINK: the pre-image shares every inode
    # with the live files it links, so time-travel bytes must not jump
    # by the table's size — only the pre-existing rename bytes remain
    run(spark, cat, "INSERT INTO `p.d.t` VALUES (7, 'z', 1.0)")
    r2 = run(
        spark, cat,
        "SELECT time_travel_physical_bytes AS tb"
        " FROM `p.d.INFORMATION_SCHEMA.TABLE_STORAGE`",
    ).result.collect()[0]
    assert r2["tb"] == r1["tb"]


def test_row_count_after_comment_with_apostrophe(spark, cat):
    """An apostrophe inside a comment must not swallow the walk (review
    finding r8: the splice treated it as a string opener)."""
    seed(spark, cat)
    w = run(
        spark, cat,
        "DELETE FROM `p.d.t` WHERE id = 1;"
        "SELECT /* don't stop here */ @@row_count AS n",
    )
    assert w.result.collect()[0][0] == 1


def test_classifier_ignores_as_inside_string():
    from crmint_spark.workers.sql_executor import classify_statement_type as c

    assert (
        c("CREATE TABLE t (x INT64) OPTIONS(description=\"same as before\")")
        == "CREATE_TABLE"
    )
    assert c("CREATE TABLE t2 AS SELECT 1") == "CREATE_TABLE_AS_SELECT"


def test_jobs_plane_no_dry_run_rows_and_single_temp_table_job(spark, cat):
    seed(spark, cat)
    run(spark, cat, "UPDATE `p.d.t` SET bal = 0 WHERE id = 1", dry_run=True)
    run(spark, cat, "CREATE TEMP TABLE tt1 AS SELECT 1 AS x;")
    rows = _jobs(spark, cat)
    # the dry run recorded nothing; the temp-table CTAS is ONE job (the
    # inner query is a sub-step, not a child job); the _jobs SELECT
    # itself records only after its view materialized, so it's absent
    assert [r["statement_type"] for r in rows] == ["CREATE_TABLE_AS_SELECT"]


def test_job_ids_unique_under_concurrency(spark, cat):
    import concurrent.futures

    def one(i):
        cat.record_job({"statement_type": "SELECT", "query": str(i)})

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(one, range(200)))
    ids = [j["job_id"] for j in cat._jobs]
    assert len(set(ids)) == 200
    assert ids == sorted(ids)  # ordinal order == append order


def test_parallel_appends_to_one_table_serialise(spark, cat):
    """Two pipeline branches appending to one table share its directory:
    the per-table lock keeps their Spark appends and pre-image archives
    apart, so every row lands and every append archives its own
    version."""
    import concurrent.futures

    cat.write(spark.range(1), "p.d.log")
    sizes = [[3 + i for i in range(10)], [20 + i for i in range(10)]]

    def branch(ns):
        for n in ns:
            cat.write(spark.range(n), "p.d.log", "WRITE_APPEND")

    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as ex:
        for f in [ex.submit(branch, ns) for ns in sizes]:
            f.result()  # re-raises a branch's failure
    assert cat.read("p.d.log").count() == 1 + sum(map(sum, sizes))
    versions = [
        d for d in os.listdir(cat._versions_root("p.d.log")) if d.isdigit()
    ]
    assert len(versions) == 20


def test_declared_name_keeps_merge_set_target_column(spark, cat):
    """A DECLAREd variable sharing a column's name is not spliced into a
    MERGE ``UPDATE SET`` target (BigQuery resolves it to the column);
    qualified uses and the right-hand side read as before."""
    cat.write(spark.sql("SELECT 1 AS user_id, 2 AS n_orders"), "p.d.users")
    run(
        spark,
        cat,
        """
        DECLARE n_orders INT64 DEFAULT 150;
        MERGE `p.d.users` T
        USING (SELECT 1 AS user_id, 5 AS n UNION ALL SELECT 2, 7) S
        ON T.user_id = S.user_id
        WHEN MATCHED THEN UPDATE SET n_orders = T.n_orders + S.n
        WHEN NOT MATCHED THEN INSERT (user_id, n_orders)
          VALUES (S.user_id, n_orders)
        """,
    )
    got = sorted(map(tuple, cat.read("p.d.users").collect()))
    assert got == [(1, 7), (2, 150)]


def test_declared_name_keeps_insert_column_list(spark, cat):
    cat.write(
        spark.sql("SELECT DATE '2024-01-01' AS day, 1 AS n_sessions"),
        "p.d.daily",
    )
    run(
        spark,
        cat,
        """
        DECLARE n_sessions INT64 DEFAULT 400;
        INSERT INTO `p.d.daily` (day, n_sessions)
          VALUES (DATE '2024-01-02', n_sessions)
        """,
    )
    got = sorted(map(tuple, cat.read("p.d.daily").collect()))
    assert [r[1] for r in got] == [1, 400]


def test_declared_name_substitutes_update_right_hand_side(spark, cat):
    seed(spark, cat)
    run(
        spark,
        cat,
        """
        DECLARE bal DOUBLE DEFAULT 1.5;
        UPDATE `p.d.t` SET bal = bal * 2 WHERE id = 1
        """,
    )
    assert state(spark, cat)[0] == (1, "a", 3.0)


def test_jobs_plane_survives_catalog_restart(spark, cat):
    """VERDICT r8 #6: BigQuery job history is durable (~180 days); the
    engine's must survive an Engine/Catalog restart over the same
    warehouse root — rows AND the ordinal id sequence resume."""
    seed(spark, cat)
    run(spark, cat, "SELECT COUNT(*) AS n FROM `p.d.t`")
    run(spark, cat, "UPDATE `p.d.t` SET bal = 0 WHERE id = 1")
    before = [(j["job_id"], j["statement_type"]) for j in cat._jobs]
    assert len(before) >= 2
    cat2 = Catalog(spark, cat.root)  # fresh object, same root
    after = [(j["job_id"], j["statement_type"]) for j in cat2._jobs]
    assert after == before
    # the sequence resumes — no duplicate ids after restart
    run(spark, cat2, "SELECT 1 AS one")
    ids = [j["job_id"] for j in cat2._jobs]
    assert len(set(ids)) == len(ids)
    assert ids == sorted(ids)
    # dml_statistics round-trip through the JSONL (dict fidelity)
    upd = [j for j in cat2._jobs if j["statement_type"] == "UPDATE"]
    assert upd and upd[0]["dml_statistics"]["updated_row_count"] == 1
    # and the INFORMATION_SCHEMA.JOBS view serves the resumed history
    rows = run(
        spark, cat2,
        "SELECT job_id, statement_type FROM `p.d.INFORMATION_SCHEMA.JOBS`"
        " ORDER BY job_id",
    ).result.collect()
    assert [r["job_id"] for r in rows][: len(before)] == [
        b[0] for b in before
    ]


def test_jobs_file_compaction(spark, cat):
    """The durable file compacts at 2x retention (atomic replace)."""
    old_max = Catalog.JOBS_RETENTION_MAX
    Catalog.JOBS_RETENTION_MAX = 5
    try:
        for i in range(12):
            cat.record_job({"statement_type": "SELECT", "query": str(i)})
        with open(cat._jobs_path, encoding="utf-8") as f:
            n_lines = sum(1 for _ in f)
        assert n_lines <= 10  # compacted at 2x retention
        assert len(cat._jobs) == 5
        cat3 = Catalog(spark, cat.root)
        assert [j["job_id"] for j in cat3._jobs] == [
            j["job_id"] for j in cat._jobs
        ]
    finally:
        Catalog.JOBS_RETENTION_MAX = old_max


def test_table_storage_reports_dropped_tables(spark, cat):
    seed(spark, cat)
    run(spark, cat, "UPDATE `p.d.t` SET bal = 1 WHERE id = 1")
    run(spark, cat, "DROP TABLE `p.d.t`")
    rows = run(
        spark, cat,
        "SELECT table_name, deleted, total_rows, active_physical_bytes AS ab,"
        " time_travel_physical_bytes AS tb"
        " FROM `p.d.INFORMATION_SCHEMA.TABLE_STORAGE`",
    ).result.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["table_name"] == "t" and r["deleted"] is True
    assert r["total_rows"] == 3 and r["ab"] == 0 and r["tb"] > 0


def test_materialized_views_metadata_plane(spark, cat):
    """Round 10: MV storage is a catalog table, so the metadata plane
    lists MVs first-class — TABLES reports table_type='MATERIALIZED
    VIEW' for them, and INFORMATION_SCHEMA.MATERIALIZED_VIEWS serves
    name / last_refresh_time / defining query; DROP removes the row."""
    run(
        spark, cat,
        "CREATE OR REPLACE TABLE `p.mm.base` AS SELECT 1 AS x;"
        "CREATE MATERIALIZED VIEW `p.mm.agg` AS"
        " SELECT x, COUNT(*) AS n FROM `p.mm.base` GROUP BY x;"
        "CREATE VIEW `p.mm.v` AS SELECT x FROM `p.mm.base`;",
    )
    w = run(
        spark, cat,
        "SELECT table_name, table_type FROM"
        " `p.mm.INFORMATION_SCHEMA.TABLES` ORDER BY table_name",
    )
    assert [tuple(r) for r in w.result.collect()] == [
        ("agg", "MATERIALIZED VIEW"),
        ("base", "BASE TABLE"),
        ("v", "VIEW"),
    ]
    w = run(
        spark, cat,
        "SELECT table_name, last_refresh_time IS NOT NULL AS has_ts,"
        " query IS NOT NULL AS has_q FROM"
        " `p.mm.INFORMATION_SCHEMA.MATERIALIZED_VIEWS`",
    )
    assert [tuple(r) for r in w.result.collect()] == [("agg", True, True)]
    ts0 = run(
        spark, cat,
        "SELECT last_refresh_time AS t FROM"
        " `p.mm.INFORMATION_SCHEMA.MATERIALIZED_VIEWS`",
    ).result.collect()[0]["t"]
    run(spark, cat, "CALL BQ.REFRESH_MATERIALIZED_VIEW('p.mm.agg')")
    ts1 = run(
        spark, cat,
        "SELECT last_refresh_time AS t FROM"
        " `p.mm.INFORMATION_SCHEMA.MATERIALIZED_VIEWS`",
    ).result.collect()[0]["t"]
    # STRICTLY greater: a refresh that failed to re-stamp would leave
    # ts1 == ts0 (round-10 review finding — >= was a tautology)
    assert ts1 > ts0
    run(spark, cat, "DROP MATERIALIZED VIEW `p.mm.agg`")
    w = run(
        spark, cat,
        "SELECT COUNT(*) AS n FROM"
        " `p.mm.INFORMATION_SCHEMA.MATERIALIZED_VIEWS`",
    )
    assert w.result.collect()[0]["n"] == 0
    # the dropped MV's storage row leaves TABLES too
    w = run(
        spark, cat,
        "SELECT table_name FROM `p.mm.INFORMATION_SCHEMA.TABLES`"
        " WHERE table_type = 'MATERIALIZED VIEW'",
    )
    assert w.result.count() == 0


def test_mv_ddl_create_drop_strictness(spark, cat):
    """Round-10 review findings: on the catalog plane a bare CREATE
    MATERIALIZED VIEW must not silently TRUNCATE an existing object
    (BigQuery errors; IF NOT EXISTS no-ops), DROP MATERIALIZED VIEW on
    a base table errors instead of deleting it, DROP TABLE on an MV
    kills the record (no phantom metadata / refresh resurrection), and
    dataset-less MV names never leak into other datasets' metadata."""
    import pytest

    from crmint_spark.workers.base import WorkerException

    run(
        spark, cat,
        "CREATE OR REPLACE TABLE `p.sx.base` AS"
        " SELECT 1 AS x UNION ALL SELECT 2;",
    )
    # bare CREATE MV over an existing TABLE name: error, data intact
    with pytest.raises(WorkerException, match="already exists"):
        run(
            spark, cat,
            "CREATE MATERIALIZED VIEW `p.sx.base` AS"
            " SELECT x, COUNT(*) AS n FROM `p.sx.base` GROUP BY x",
        )
    assert run(
        spark, cat, "SELECT COUNT(*) AS n FROM `p.sx.base`"
    ).result.collect()[0]["n"] == 2
    # IF NOT EXISTS over an existing object: no-op, data intact
    w = run(
        spark, cat,
        "CREATE MATERIALIZED VIEW IF NOT EXISTS `p.sx.base` AS"
        " SELECT x, COUNT(*) AS n FROM `p.sx.base` GROUP BY x",
    )
    assert any("skipped" in line for line in w.log), w.log
    assert run(
        spark, cat, "SELECT COUNT(*) AS n FROM `p.sx.base`"
    ).result.collect()[0]["n"] == 2
    # DROP MATERIALIZED VIEW on a base table: error (IF EXISTS no-ops)
    with pytest.raises(WorkerException, match="not a materialized view"):
        run(spark, cat, "DROP MATERIALIZED VIEW `p.sx.base`")
    assert cat.exists("p.sx.base")
    run(spark, cat, "DROP MATERIALIZED VIEW IF EXISTS `p.sx.nothing`")
    # DROP TABLE on an MV pops the record: no phantom metadata row,
    # no resurrection via CALL BQ.REFRESH_MATERIALIZED_VIEW
    run(
        spark, cat,
        "CREATE MATERIALIZED VIEW `p.sx.agg` AS"
        " SELECT x, COUNT(*) AS n FROM `p.sx.base` GROUP BY x;"
        "DROP TABLE `p.sx.agg`;",
    )
    w = run(
        spark, cat,
        "SELECT COUNT(*) AS n FROM"
        " `p.sx.INFORMATION_SCHEMA.MATERIALIZED_VIEWS`",
    )
    assert w.result.collect()[0]["n"] == 0
    with pytest.raises(WorkerException, match="unknown"):
        run(spark, cat, "CALL BQ.REFRESH_MATERIALIZED_VIEW('p.sx.agg')")
    # dataset-less MV names belong to NO dataset metadata view
    store = cat._mviews
    store["sessmv"] = {
        "query_raw": "SELECT 1",
        "query_norm": "select 1",
        "fps": {},
        "shape": None,
        "refreshed_at": 1.0,
    }
    try:
        w = run(
            spark, cat,
            "SELECT COUNT(*) AS n FROM"
            " `p.sx.INFORMATION_SCHEMA.MATERIALIZED_VIEWS`",
        )
        assert w.result.collect()[0]["n"] == 0
    finally:
        store.pop("sessmv", None)


def test_execute_immediate_ctas_catalog_plane(spark, cat):
    """Round-10 plane probe: the transpiler used to rewrite backticked
    names INSIDE string literals, so EXECUTE IMMEDIATE's dynamic CTAS
    landed under the session-safe name (`p__w__dyn`) instead of the
    real catalog name — invisible to INFORMATION_SCHEMA and the DML
    plane. Literals now reach the dynamic statement verbatim."""
    run(
        spark, cat,
        "EXECUTE IMMEDIATE"
        " 'CREATE OR REPLACE TABLE `p.ei.dyn` AS SELECT 7 AS x'",
    )
    assert cat.exists("p.ei.dyn")
    w = run(
        spark, cat,
        "EXECUTE IMMEDIATE FORMAT("
        "'SELECT COUNT(*) AS n FROM %s', '`p.ei.dyn`')",
    )
    assert w.result.collect()[0]["n"] == 1
    # DML through the real name reaches the catalog plane
    run(spark, cat, "INSERT INTO `p.ei.dyn` VALUES (8)")
    assert cat.read("p.ei.dyn").count() == 2
    # a literal that merely MENTIONS a backticked name stays verbatim
    w = run(spark, cat, "SELECT 'see `p.ei.dyn` docs' AS note")
    assert w.result.collect()[0]["note"] == "see `p.ei.dyn` docs"


def test_ctas_column_list_with_as_query(spark, cat):
    """BigQuery: `CREATE TABLE t (cols) AS SELECT ...` adopts the
    DECLARED names and types positionally (round-10 plane probe: the
    list was silently ignored, leaving expression-derived column
    names). Applies to flat and partitioned layouts; a count mismatch
    errors loudly."""
    import pytest

    from crmint_spark.workers.base import WorkerException

    run(
        spark, cat,
        "CREATE OR REPLACE TABLE `p.cl.sa` (x INT64, y STRING)"
        " AS SELECT 5, 'q'",
    )
    df = cat.read("p.cl.sa")
    assert df.dtypes == [("x", "bigint"), ("y", "string")]
    assert [tuple(r) for r in df.collect()] == [(5, "q")]
    run(
        spark, cat,
        "CREATE OR REPLACE TABLE `p.cl.sp` (d DATE, v FLOAT64)"
        " PARTITION BY d AS SELECT DATE '2021-01-01', 1",
    )
    df = cat.read("p.cl.sp")
    assert df.dtypes == [("d", "date"), ("v", "double")]
    with pytest.raises(WorkerException, match="column list"):
        run(
            spark, cat,
            "CREATE OR REPLACE TABLE `p.cl.bad` (x INT64)"
            " AS SELECT 1, 2",
        )
    # review wave 2: expression-derived names containing dots and
    # join-duplicated output names must adopt positionally (df[i]
    # resolved BY NAME in PySpark and crashed on both)
    run(
        spark, cat,
        "CREATE OR REPLACE TABLE `p.cl.dot` (v FLOAT64)"
        " AS SELECT x * 1.5 FROM UNNEST([1, 2]) AS x",
    )
    assert cat.read("p.cl.dot").dtypes == [("v", "double")]
    run(
        spark, cat,
        "CREATE OR REPLACE TABLE `p.cl.l` AS SELECT 1 AS id;"
        "CREATE OR REPLACE TABLE `p.cl.r` AS SELECT 1 AS id;"
        "CREATE OR REPLACE TABLE `p.cl.j` (x INT64, y INT64) AS"
        " SELECT a.id, b.id FROM `p.cl.l` a"
        " JOIN `p.cl.r` b ON a.id = b.id",
    )
    assert [tuple(r) for r in cat.read("p.cl.j").collect()] == [(1, 1)]
    # TEMP TABLE adopts its column list too (it was silently discarded)
    w = run(
        spark, cat,
        "CREATE TEMP TABLE tt_cl (x INT64, y STRING) AS SELECT 5, 'q';"
        "SELECT * FROM tt_cl;",
    )
    assert w.result.dtypes == [("x", "bigint"), ("y", "string")]
    spark.catalog.dropTempView("tt_cl")


def test_execute_immediate_comment_robustness(spark, cat):
    """Review wave 2: INTO/USING words inside trailing comments must
    not mis-split EXECUTE IMMEDIATE, and a USING parameter with a
    trailing comment must still wrap cleanly."""
    w = run(
        spark, cat,
        "EXECUTE IMMEDIATE 'SELECT 42 AS v' -- stores INTO nothing\n",
    )
    assert w.result.collect()[0]["v"] == 42
    w = run(
        spark, cat,
        "EXECUTE IMMEDIATE 'SELECT 43 AS v' -- USING nothing\n",
    )
    assert w.result.collect()[0]["v"] == 43
    w = run(
        spark, cat,
        "DECLARE out INT64;"
        "EXECUTE IMMEDIATE 'SELECT @a + 1 AS v' INTO out"
        " USING 1 -- param\n AS a;"
        "SELECT out AS v;",
    )
    assert w.result.collect()[0]["v"] == 2


def test_routines_and_index_views_lifecycle(spark, cat):
    """ROUTINES / SEARCH_INDEXES / VECTOR_INDEXES reflect the live
    stores: creation appears, other datasets are filtered out, DROP
    removes the row. Bare INFORMATION_SCHEMA spellings resolve too."""
    seed(spark, cat)
    run(
        spark, cat,
        "CREATE PROCEDURE p.d.proc1(IN x INT64) BEGIN SELECT x; END;"
        "CREATE PROCEDURE other.ds.proc2(IN x INT64) BEGIN SELECT x; END;"
        "CREATE TABLE FUNCTION p.d.tf1(n INT64) AS"
        " (SELECT id FROM `p.d.t` WHERE id > n);"
        "CREATE SEARCH INDEX si1 ON `p.d.t`(seg);"
        "CREATE VECTOR INDEX IF NOT EXISTS vi1 ON `other.ds.x`(emb);",
    )
    rows = run(
        spark, cat,
        "SELECT routine_name, routine_type, routine_definition"
        " FROM p.d.INFORMATION_SCHEMA.ROUTINES ORDER BY routine_name",
    ).result.collect()
    assert [(r[0], r[1]) for r in rows] == [
        ("proc1", "PROCEDURE"),
        ("tf1", "TABLE FUNCTION"),
    ]
    assert "BEGIN" in rows[0]["routine_definition"]
    s = run(
        spark, cat,
        "SELECT index_name, table_name, analyzer"
        " FROM p.d.INFORMATION_SCHEMA.SEARCH_INDEXES",
    ).result.collect()
    assert [tuple(r) for r in s] == [("si1", "t", "LOG_ANALYZER")]
    v = run(
        spark, cat,
        "SELECT index_name FROM p.d.INFORMATION_SCHEMA.VECTOR_INDEXES",
    ).result.collect()
    assert v == []  # vi1 belongs to other.ds
    run(spark, cat, "DROP PROCEDURE p.d.proc1; DROP SEARCH INDEX si1 ON `p.d.t`;")
    rows2 = run(
        spark, cat,
        "SELECT routine_name FROM p.d.INFORMATION_SCHEMA.ROUTINES"
        " UNION ALL SELECT index_name"
        " FROM p.d.INFORMATION_SCHEMA.SEARCH_INDEXES",
    ).result.collect()
    assert [r[0] for r in rows2] == ["tf1"]


def test_time_zone_system_variable_script_scoped(spark, cat):
    seed(spark, cat)
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    w = run(
        spark, cat,
        "SET @@time_zone = 'Asia/Tokyo';"
        "SELECT CAST(TIMESTAMP '2024-01-01 00:00:00+00:00' AS DATETIME)"
        " AS d, @@time_zone AS tz",
    )
    row = w.result.collect()[0]
    assert str(row["d"]) == "2024-01-01 09:00:00"
    assert row["tz"] == "Asia/Tokyo"
    # script-scoped: the shared session zone is restored afterwards
    assert spark.conf.get("spark.sql.session.timeZone") == tz_before
    with pytest.raises(WorkerException, match="unknown time zone"):
        run(spark, cat, "SET @@time_zone = 'Not/AZone'")
    with pytest.raises(WorkerException, match="not supported"):
        run(spark, cat, "SET @@project_id = 'x'")


def test_last_job_id_system_variable(spark, cat):
    seed(spark, cat)
    w = run(
        spark, cat,
        "UPDATE `p.d.t` SET bal = 0 WHERE id = 1;"
        "SELECT @@last_job_id AS prev",
    )
    prev = w.result.collect()[0]["prev"]
    (upd,) = [
        j for j in _jobs(spark, cat) if j["statement_type"] == "UPDATE"
    ]
    assert prev == upd["job_id"]


def test_set_system_var_rejected_in_dynamic_sql(spark, cat):
    with pytest.raises(WorkerException, match="dynamic SQL"):
        run(
            spark, cat,
            'EXECUTE IMMEDIATE "SET @@time_zone = \'Asia/Tokyo\'"',
        )


def test_routines_two_part_names_dataset_filtered(spark, cat):
    seed(spark, cat)
    run(
        spark, cat,
        "CREATE PROCEDURE d.proc_here(IN x INT64) BEGIN SELECT x; END;"
        "CREATE PROCEDURE other.proc_there(IN x INT64) BEGIN SELECT x; END;"
        "CREATE TABLE FUNCTION d.tf_here(n INT64) AS"
        " (SELECT CAST(id AS INT64) AS id FROM `p.d.t` WHERE id > n);",
    )
    rows = run(
        spark, cat,
        "SELECT routine_name, routine_definition"
        " FROM p.d.INFORMATION_SCHEMA.ROUTINES ORDER BY routine_name",
    ).result.collect()
    assert [r["routine_name"] for r in rows] == ["proc_here", "tf_here"]
    # the table function reports the user's BigQuery spelling, not the
    # transpiled Spark form
    assert "CAST(id AS INT64)" in rows[1]["routine_definition"]


# -- unenforced key constraints + join elimination --------------------------


def _seed_star(spark, cat):
    cat.write(
        spark.sql("SELECT id AS ck, CONCAT('c', id) AS cname FROM RANGE(50)"),
        "p.d.dim",
    )
    cat.write(
        spark.sql(
            "SELECT id AS ok, CAST(CASE WHEN id % 7 = 0 THEN NULL"
            " ELSE id % 50 END AS BIGINT) AS ck,"
            " CAST(id AS DOUBLE) AS amt FROM RANGE(500)"
        ),
        "p.d.fact",
    )
    run(
        spark, cat,
        "ALTER TABLE `p.d.dim` ADD PRIMARY KEY (ck) NOT ENFORCED;"
        "ALTER TABLE `p.d.fact` ADD CONSTRAINT fk1 FOREIGN KEY (ck)"
        " REFERENCES p.d.dim (ck) NOT ENFORCED;",
    )


def test_constraint_views_and_lifecycle(spark, cat):
    _seed_star(spark, cat)
    rows = run(
        spark, cat,
        "SELECT constraint_name, table_name, constraint_type, enforced"
        " FROM p.d.INFORMATION_SCHEMA.TABLE_CONSTRAINTS"
        " ORDER BY constraint_name",
    ).result.collect()
    assert [tuple(r) for r in rows] == [
        ("dim.pk$", "dim", "PRIMARY KEY", "NO"),
        ("fk1", "fact", "FOREIGN KEY", "NO"),
    ]
    kcu = run(
        spark, cat,
        "SELECT constraint_name, column_name, ordinal_position,"
        " position_in_unique_constraint"
        " FROM p.d.INFORMATION_SCHEMA.KEY_COLUMN_USAGE"
        " ORDER BY constraint_name",
    ).result.collect()
    assert [tuple(r) for r in kcu] == [
        ("dim.pk$", "ck", 1, None),
        ("fk1", "ck", 1, 1),
    ]
    # ENFORCED is rejected loudly; unknown columns too
    with pytest.raises(WorkerException, match="NOT ENFORCED"):
        run(spark, cat, "ALTER TABLE `p.d.fact` ADD PRIMARY KEY (ok)")
    with pytest.raises(WorkerException, match="unknown column"):
        run(
            spark, cat,
            "ALTER TABLE `p.d.fact` ADD PRIMARY KEY (nope) NOT ENFORCED",
        )
    # key columns refuse DROP COLUMN until the constraint goes
    with pytest.raises(WorkerException, match="constraint"):
        run(spark, cat, "ALTER TABLE `p.d.fact` DROP COLUMN ck")
    run(
        spark, cat,
        "ALTER TABLE `p.d.fact` DROP CONSTRAINT fk1;"
        "ALTER TABLE `p.d.dim` DROP PRIMARY KEY;",
    )
    n = run(
        spark, cat,
        "SELECT COUNT(*) AS n"
        " FROM p.d.INFORMATION_SCHEMA.TABLE_CONSTRAINTS",
    ).result.collect()[0]["n"]
    assert n == 0


def test_join_elimination_inner_matches_real_join(spark, cat):
    """The eliminated inner join must agree with the real join row for
    row — including NULL foreign keys, which the rewrite preserves via
    the conjoined IS NOT NULL."""
    q = (
        "SELECT f.ck AS k, COUNT(*) AS n, ROUND(SUM(f.amt), 2) AS total"
        " FROM `p.d.fact` f JOIN `p.d.dim` d ON f.ck = d.ck"
        " GROUP BY k ORDER BY k"
    )
    cat2 = Catalog(spark, tempfile.mkdtemp(prefix="je_t2_"))
    _seed_star(spark, cat2)
    truth_cat = Catalog(spark, tempfile.mkdtemp(prefix="je_t1_"))
    cat2_dim = cat2.read("p.d.dim")
    cat2_fact = cat2.read("p.d.fact")
    truth_cat.write(cat2_dim, "p.d.dim")
    truth_cat.write(cat2_fact, "p.d.fact")
    truth = run(spark, truth_cat, q)  # no constraints: real join
    assert not any("eliminat" in line for line in truth.log)
    w = run(spark, cat2, q)
    assert any("join eliminated" in line for line in w.log)
    assert [tuple(r) for r in w.result.collect()] == [
        tuple(r) for r in truth.result.collect()
    ]
    # plan: no join operator survives (AQE prints initial+final plans,
    # so scan-counting over the string is unreliable), and the
    # null-guard reaches the scan as a pushed filter
    plan = w.result._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "PushedFilters: [IsNotNull(ck)]" in plan


def test_join_elimination_left_join_needs_only_pk(spark, cat):
    _seed_star(spark, cat)
    run(spark, cat, "ALTER TABLE `p.d.fact` DROP CONSTRAINT fk1")
    w = run(
        spark, cat,
        "SELECT f.ok FROM `p.d.fact` f LEFT JOIN `p.d.dim` d"
        " ON f.ck = d.ck ORDER BY f.ok LIMIT 5",
    )
    assert any("join eliminated" in line for line in w.log)
    assert w.result.count() == 5
    # but INNER without the FK keeps the join (no totality proof)
    w2 = run(
        spark, cat,
        "SELECT f.ok FROM `p.d.fact` f JOIN `p.d.dim` d"
        " ON f.ck = d.ck ORDER BY f.ok LIMIT 5",
    )
    assert not any("eliminat" in line for line in w2.log)


def test_join_elimination_conservative_aborts(spark, cat):
    _seed_star(spark, cat)
    keeps = [
        # dim column referenced (qualified / unqualified / star)
        "SELECT f.ok, d.cname FROM `p.d.fact` f JOIN `p.d.dim` d"
        " ON f.ck = d.ck LIMIT 3",
        "SELECT f.ok, cname FROM `p.d.fact` f JOIN `p.d.dim` d"
        " ON f.ck = d.ck LIMIT 3",
        "SELECT * FROM `p.d.fact` f JOIN `p.d.dim` d ON f.ck = d.ck"
        " LIMIT 3",
        # non-key join condition
        "SELECT f.ok FROM `p.d.fact` f JOIN `p.d.dim` d"
        " ON f.ok = d.ck LIMIT 3",
    ]
    for q in keeps:
        w = run(spark, cat, q)
        assert not any("eliminat" in line for line in w.log), q
    # dropping the dim invalidates its constraints AND the fact's FK at it
    run(spark, cat, "DROP TABLE `p.d.dim`")
    assert cat.primary_key("p.d.dim") is None
    assert cat.foreign_keys("p.d.fact") == {}


def test_join_elimination_review_findings(spark, cat):
    """Round-8 review wave: identifiers containing clause keywords,
    backticked dim references, ambiguous shared columns, comments."""
    _seed_star(spark, cat)
    # sort_order-style identifier must not truncate the WHERE splice
    run(spark, cat, "ALTER TABLE `p.d.fact` ADD COLUMN sort_order INT64")
    w = run(
        spark, cat,
        "SELECT f.ok FROM `p.d.fact` f JOIN `p.d.dim` d ON f.ck = d.ck"
        " WHERE f.sort_order IS NULL AND f.ok < 9 ORDER BY f.ok",
    )
    assert any("eliminat" in line for line in w.log)
    assert w.result.count() == 7  # ok 0..8 minus NULL-ck ok=0 and ok=7
    # backticked dim reference keeps the join
    w2 = run(
        spark, cat,
        "SELECT f.ok, `d`.cname FROM `p.d.fact` f JOIN `p.d.dim` d"
        " ON f.ck = d.ck LIMIT 3",
    )
    assert not any("eliminat" in line for line in w2.log)
    # a shared unqualified column is ambiguous in BigQuery: keep the
    # join and let the engine raise, never silently resolve
    with pytest.raises(Exception):
        run(
            spark, cat,
            "SELECT ck FROM `p.d.fact` f JOIN `p.d.dim` d ON f.ck = d.ck"
            " GROUP BY ck LIMIT 3",
        )


def test_join_elimination_review_findings_r9(spark, cat):
    """Round-9 review wave: SEMI/ANTI joins never eliminate (an
    eliminated LEFT ANTI JOIN would INVERT the result set), and a
    fully-qualified dim reference hiding the alias behind leading path
    segments keeps the join."""
    _seed_star(spark, cat)
    # LEFT ANTI: only the NULL-ck fact rows survive (every non-NULL ck
    # matches the 0..49 dim) — ids 0,7,...,497 = 72 rows. The broken
    # rewrite would return the 428 NOT NULL rows instead.
    w = run(
        spark, cat,
        "SELECT f.ok FROM `p.d.fact` f LEFT ANTI JOIN `p.d.dim` d"
        " ON f.ck = d.ck",
    )
    assert not any("eliminat" in line for line in w.log)
    assert w.result.count() == 72
    # LEFT SEMI likewise keeps the join
    w2 = run(
        spark, cat,
        "SELECT f.ok FROM `p.d.fact` f LEFT SEMI JOIN `p.d.dim` d"
        " ON f.ck = d.ck",
    )
    assert not any("eliminat" in line for line in w2.log)
    assert w2.result.count() == 428
    # fully-qualified dim reference (alias hidden behind leading path
    # segments): the dotted-path guard must keep the join (unit-level:
    # the rewrite is a no-op on the statement text)
    w3 = SparkSQLExecutor(
        {"script": "", "dry_run": False},
        WorkerContext(spark=spark, catalog=cat),
    )
    q = (
        "SELECT f.ok, `p.d.dim`.cname FROM `p.d.fact` f"
        " JOIN `p.d.dim` d ON f.ck = d.ck LIMIT 3"
    )
    assert w3._route_join_elimination(q) == q


def test_join_elimination_outer_variants_keep_join(spark, cat):
    """Round-10 advisory: RIGHT/FULL OUTER JOIN must abort elimination
    exactly like RIGHT/FULL JOIN — the old guard missed the OUTER
    spelling, treated them as INNER and emitted a dangling
    'RIGHT OUTER' token (a parse error on a valid query)."""
    _seed_star(spark, cat)
    # RIGHT OUTER JOIN: every dim row survives (50), fact-side NULLs
    # for unmatched dims would change the count under a broken rewrite
    w = run(
        spark, cat,
        "SELECT f.ok FROM `p.d.fact` f RIGHT OUTER JOIN `p.d.dim` d"
        " ON f.ck = d.ck",
    )
    assert not any("eliminat" in line for line in w.log)
    assert w.result.count() == 428  # 428 matched fact rows, 0 dim-only
    w2 = run(
        spark, cat,
        "SELECT f.ok FROM `p.d.fact` f FULL OUTER JOIN `p.d.dim` d"
        " ON f.ck = d.ck",
    )
    assert not any("eliminat" in line for line in w2.log)
    assert w2.result.count() == 500  # 428 matched + 72 NULL-ck facts


def _seed_star3(spark, cat):
    """A 3-dim star: two INNER-eligible dims (PK + FK) and one
    LEFT-eligible dim (PK only)."""
    _seed_star(spark, cat)  # p.d.dim (ck) + p.d.fact (ok, ck, amt) + fk1
    cat.write(
        spark.sql(
            "SELECT id AS sk, CONCAT('s', id) AS sname FROM RANGE(25)"
        ),
        "p.d.dim2",
    )
    cat.write(
        spark.sql("SELECT id AS tk, id * 10 AS tval FROM RANGE(99)"),
        "p.d.dim3",
    )
    run(
        spark, cat,
        "ALTER TABLE `p.d.fact` ADD COLUMN sk INT64;"
        "ALTER TABLE `p.d.dim2` ADD PRIMARY KEY (sk) NOT ENFORCED;"
        "ALTER TABLE `p.d.dim3` ADD PRIMARY KEY (tk) NOT ENFORCED;",
    )
    run(
        spark, cat,
        "UPDATE `p.d.fact` SET sk = MOD(ok, 25) WHERE TRUE",
    )
    run(
        spark, cat,
        "ALTER TABLE `p.d.fact` ADD CONSTRAINT fk2 FOREIGN KEY (sk)"
        " REFERENCES p.d.dim2 (sk) NOT ENFORCED",
    )


def test_join_elimination_star_multi_dim(spark, cat):
    """VERDICT r8 #4: a star query joining 3 dims and projecting only
    fact columns eliminates ALL the joins — and agrees with the real
    joins row for row (the NULL-ck rows drop under INNER semantics)."""
    _seed_star3(spark, cat)
    q = (
        "SELECT f.ok AS ok, ROUND(SUM(f.amt), 2) AS total"
        " FROM `p.d.fact` f"
        " JOIN `p.d.dim` d ON f.ck = d.ck"
        " JOIN `p.d.dim2` s ON f.sk = s.sk"
        " LEFT JOIN `p.d.dim3` t ON f.ok = t.tk"
        " WHERE f.ok < 40 GROUP BY ok ORDER BY ok"
    )
    w = run(spark, cat, q)
    elim = [line for line in w.log if "join eliminated" in line]
    assert len(elim) == 3, w.log
    plan = w.result._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    # truth: the same star over an unconstrained catalog
    cat2 = Catalog(spark, tempfile.mkdtemp(prefix="star3_t_"))
    for t in ("p.d.fact", "p.d.dim", "p.d.dim2", "p.d.dim3"):
        df = spark.createDataFrame(
            cat.read(t).collect(), cat.read(t).schema
        )
        cat2.write(df, t)
    truth = run(spark, cat2, q)
    assert not any("eliminat" in line for line in truth.log)
    assert [tuple(r) for r in w.result.collect()] == [
        tuple(r) for r in truth.result.collect()
    ]
    # referencing ONE dim's column keeps that join, eliminates the rest
    q2 = (
        "SELECT f.ok AS ok, s.sname AS sname FROM `p.d.fact` f"
        " JOIN `p.d.dim` d ON f.ck = d.ck"
        " JOIN `p.d.dim2` s ON f.sk = s.sk"
        " WHERE f.ok < 5 ORDER BY ok"
    )
    w2 = run(spark, cat, q2)
    elim2 = [line for line in w2.log if "join eliminated" in line]
    assert len(elim2) == 1 and "p.d.dim" in elim2[0], w2.log
    truth2 = run(spark, cat2, q2)
    assert [tuple(r) for r in w2.result.collect()] == [
        tuple(r) for r in truth2.result.collect()
    ]


def test_constraint_views_table_catalog_columns(spark, cat):
    """BigQuery's TABLE_CONSTRAINTS/KEY_COLUMN_USAGE carry
    table_catalog/table_schema alongside the constraint_* triple
    (review finding r9: projecting them failed)."""
    _seed_star(spark, cat)
    rows = run(
        spark, cat,
        "SELECT table_catalog, table_schema, table_name, constraint_name"
        " FROM p.d.INFORMATION_SCHEMA.TABLE_CONSTRAINTS"
        " ORDER BY constraint_name",
    ).result.collect()
    assert [tuple(r) for r in rows] == [
        ("p", "d", "dim", "dim.pk$"),
        ("p", "d", "fact", "fk1"),
    ]
    kcu = run(
        spark, cat,
        "SELECT table_catalog, table_schema, table_name, column_name"
        " FROM p.d.INFORMATION_SCHEMA.KEY_COLUMN_USAGE"
        " ORDER BY constraint_name",
    ).result.collect()
    assert [tuple(r) for r in kcu] == [
        ("p", "d", "dim", "ck"),
        ("p", "d", "fact", "ck"),
    ]


def test_mv_containment_rewrite(spark, cat):
    """VERDICT r8 #3: a query grouping a SUBSET of an MV's keys over
    the same aggregates re-aggregates the MV instead of the base —
    values identical rewrite-on/off, plan scans the MV, staleness
    falls through like the exact-match slice."""
    cat.write(
        spark.sql(
            "SELECT CAST(id % 5 AS STRING) AS seg, id % 3 AS nat,"
            " CAST(id * 7 AS BIGINT) AS balc FROM RANGE(1000)"
        ),
        "p.d.base",
    )
    run(
        spark, cat,
        "CREATE MATERIALIZED VIEW `p.d.mv` AS"
        " SELECT seg, nat, COUNT(*) AS n, SUM(balc) AS tot,"
        " MIN(balc) AS lo, MAX(balc) AS hi"
        " FROM `p.d.base` GROUP BY seg, nat",
    )
    q = (
        "SELECT seg, COUNT(*) AS n, SUM(balc) AS tot, MAX(balc) AS hi"
        " FROM `p.d.base` GROUP BY seg ORDER BY seg"
    )
    w = run(spark, cat, q)
    assert any("containment rewrite" in line for line in w.log), w.log
    got = [tuple(r) for r in w.result.collect()]
    truth = [
        tuple(r)
        for r in spark.read.parquet(cat.path_for("p.d.base"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("balc").alias("tot"),
            F.max("balc").alias("hi"),
        )
        .orderBy("seg")
        .collect()
    ]
    assert got == truth
    plan = w.result._jdf.queryExecution().executedPlan().toString()
    # the MV's materialized storage is what's scanned — a catalog
    # parquet directory since round 10 (the plan shows its path)
    assert "/p/d/mv]" in plan, plan
    assert "p__d__base" not in plan
    # a KEY-column predicate composes: filtering MV rows is exactly
    # filtering base rows (every row of a group shares its key values)
    for q_extra in (
        "SELECT seg, COUNT(*) AS n FROM `p.d.base`"
        " WHERE nat = 1 GROUP BY seg ORDER BY seg",
        "SELECT seg, SUM(balc) AS tot FROM `p.d.base`"
        " WHERE nat IN (0, 2) AND seg >= '2' GROUP BY seg ORDER BY seg",
        "SELECT nat, COUNT(*) AS n FROM `p.d.base`"
        " WHERE seg BETWEEN '1' AND '3' GROUP BY nat ORDER BY nat",
    ):
        wf = run(spark, cat, q_extra)
        assert any("containment rewrite" in line for line in wf.log), q_extra
        spark.read.parquet(cat.path_for("p.d.base")).createOrReplaceTempView(
            "mvc_truth"
        )
        truth2 = [
            tuple(r)
            for r in spark.sql(
                q_extra.replace("`p.d.base`", "mvc_truth")
            ).collect()
        ]
        assert [tuple(r) for r in wf.result.collect()] == truth2, q_extra
    # composability limits hold: AVG / non-key or non-simple WHERE /
    # DISTINCT / OR
    for keep in (
        "SELECT seg, AVG(balc) AS a FROM `p.d.base` GROUP BY seg",
        "SELECT seg, COUNT(*) AS n FROM `p.d.base`"
        " WHERE balc > 10 GROUP BY seg",
        "SELECT seg, COUNT(*) AS n FROM `p.d.base`"
        " WHERE upper(seg) = 'A' GROUP BY seg",
        "SELECT seg, COUNT(*) AS n FROM `p.d.base`"
        " WHERE nat = 1 OR nat = 2 GROUP BY seg",
        "SELECT seg, COUNT(DISTINCT balc) AS n FROM `p.d.base`"
        " GROUP BY seg",
    ):
        wk = run(spark, cat, keep)
        assert not any("rewritten" in line for line in wk.log), keep
    # staleness: a base mutation recomputes fresh
    run(spark, cat, "INSERT INTO `p.d.base` SELECT 'Z', 9, CAST(1 AS BIGINT)")
    w2 = run(spark, cat, q)
    assert not any("rewritten" in line for line in w2.log)
    assert {r["seg"]: r["n"] for r in w2.result.collect()}.get("Z") == 1


def test_mv_containment_global_and_having(spark, cat):
    """Round 10 (VERDICT r9 #3): GROUP-BY-less global aggregates and
    simple HAVING conjuncts compose through the MV containment rewrite;
    COUNT over an empty filtered set composes to 0 (COALESCE), not
    NULL; MV shapes with their own HAVING never serve containment."""
    cat.write(
        spark.sql(
            "SELECT CAST(id % 5 AS STRING) AS seg, id % 3 AS nat,"
            " CAST(id * 7 AS BIGINT) AS balc FROM RANGE(1000)"
        ),
        "p.d.gbase",
    )
    run(
        spark, cat,
        "CREATE MATERIALIZED VIEW `p.d.gmv` AS"
        " SELECT seg, nat, COUNT(*) AS n, SUM(balc) AS tot,"
        " MAX(balc) AS hi FROM `p.d.gbase` GROUP BY seg, nat",
    )
    # global tile: one row, exact values
    w = run(
        spark, cat,
        "SELECT SUM(balc) AS tot, COUNT(*) AS n, MAX(balc) AS hi"
        " FROM `p.d.gbase`",
    )
    assert any("containment rewrite" in line for line in w.log), w.log
    r = w.result.collect()[0]
    assert (r["tot"], r["n"], r["hi"]) == (7 * 999 * 1000 // 2, 1000, 6993)
    # global + key predicate matching NOTHING: COUNT -> 0, SUM -> NULL
    w0 = run(
        spark, cat,
        "SELECT COUNT(*) AS n, SUM(balc) AS tot FROM `p.d.gbase`"
        " WHERE seg = 'nope'",
    )
    assert any("containment rewrite" in line for line in w0.log), w0.log
    r0 = w0.result.collect()[0]
    assert r0["n"] == 0 and r0["tot"] is None
    # HAVING over a composed aggregate (direct and alias forms)
    for hv in ("HAVING SUM(balc) > 698000", "HAVING tot > 698000"):
        wh = run(
            spark, cat,
            "SELECT seg, SUM(balc) AS tot FROM `p.d.gbase`"
            f" GROUP BY seg {hv} ORDER BY seg",
        )
        assert any("containment rewrite" in line for line in wh.log), wh.log
        truth = [
            tuple(r)
            for r in spark.read.parquet(cat.path_for("p.d.gbase"))
            .groupBy("seg")
            .agg({"balc": "sum"})
            .withColumnRenamed("sum(balc)", "tot")
            .where("tot > 698000")
            .orderBy("seg")
            .collect()
        ]
        assert [tuple(r) for r in wh.result.collect()] == truth
    # OR / non-literal HAVING keeps the exact path (and stays correct)
    wo = run(
        spark, cat,
        "SELECT seg, COUNT(*) AS n FROM `p.d.gbase` GROUP BY seg"
        " HAVING COUNT(*) > 10 OR seg = '1' ORDER BY seg",
    )
    assert not any("containment" in line for line in wo.log)
    assert wo.result.count() == 5
    # an MV defined WITH HAVING never serves containment (it misses
    # groups); the query silently computes over the base
    run(
        spark, cat,
        "CREATE MATERIALIZED VIEW `p.d.hmv` AS"
        " SELECT nat, COUNT(*) AS n FROM `p.d.gbase`"
        " GROUP BY nat HAVING COUNT(*) > 400",
    )
    wq = run(
        spark, cat,
        "SELECT COUNT(*) AS n FROM `p.d.gbase` WHERE nat = 0",
    )
    # nat is a key of gmv, not hmv — whatever route, the value is exact
    assert wq.result.collect()[0]["n"] == 334


def test_mv_manual_refresh_procedure(spark, cat):
    """CALL BQ.REFRESH_MATERIALIZED_VIEW (BigQuery's system procedure):
    re-materializes from the recorded defining query and re-stamps the
    base fingerprints, so the smart rewrite serves again with the
    post-mutation values."""
    cat.write(
        spark.sql("SELECT id % 3 AS k, CAST(id AS BIGINT) AS v FROM RANGE(100)"),
        "p.d.b",
    )
    agg = "SELECT k, COUNT(*) AS n, SUM(v) AS tot FROM `p.d.b` GROUP BY k"
    run(spark, cat, f"CREATE MATERIALIZED VIEW `p.d.mv` AS {agg}")
    run(spark, cat, "INSERT INTO `p.d.b` SELECT 9, CAST(1 AS BIGINT)")
    assert not any(
        "rewritten" in line for line in run(spark, cat, agg).log
    )
    run(spark, cat, "CALL BQ.REFRESH_MATERIALIZED_VIEW('p.d.mv')")
    w = run(spark, cat, agg)
    assert any("smart rewrite" in line for line in w.log), w.log
    assert {r["k"]: r["n"] for r in w.result.collect()}.get(9) == 1
    with pytest.raises(WorkerException, match="unknown materialized view"):
        run(spark, cat, "CALL BQ.REFRESH_MATERIALIZED_VIEW('p.d.nope')")


def test_constraint_lifecycle_review_findings(spark, cat):
    _seed_star(spark, cat)
    # CREATE TABLE IF NOT EXISTS no-op must NOT wipe constraints
    run(spark, cat, "CREATE TABLE IF NOT EXISTS `p.d.dim` (x INT64)")
    assert cat.primary_key("p.d.dim") == ["ck"]
    # RENAME TO carries constraints and re-points inbound FKs
    run(spark, cat, "ALTER TABLE `p.d.dim` RENAME TO `p.d.dim2`")
    assert cat.primary_key("p.d.dim2") == ["ck"]
    assert (
        cat.foreign_keys("p.d.fact")["fk1"]["ref_table"] == "p.d.dim2"
    )
    # RENAME COLUMN follows in both the PK and the inbound FK ref_cols
    run(spark, cat, "ALTER TABLE `p.d.dim2` RENAME COLUMN ck TO ck2")
    assert cat.primary_key("p.d.dim2") == ["ck2"]
    assert cat.foreign_keys("p.d.fact")["fk1"]["ref_cols"] == ["ck2"]
    with pytest.raises(WorkerException, match="constraint"):
        run(spark, cat, "ALTER TABLE `p.d.dim2` DROP COLUMN ck2")
    # IF EXISTS guards no-op instead of raising
    run(spark, cat, "ALTER TABLE `p.d.fact` DROP CONSTRAINT IF EXISTS nope")
    run(
        spark, cat,
        "ALTER TABLE IF EXISTS `p.d.absent` ADD PRIMARY KEY (x) NOT ENFORCED",
    )
    run(
        spark, cat,
        "ALTER TABLE `p.d.fact` ADD CONSTRAINT IF NOT EXISTS fk1"
        " FOREIGN KEY (ck) REFERENCES p.d.dim2 (ck2) NOT ENFORCED",
    )
    # bare CREATE TABLE LIKE must refuse to overwrite
    with pytest.raises(WorkerException, match="already exists"):
        run(spark, cat, "CREATE TABLE `p.d.dim2` LIKE `p.d.fact`")


def test_create_type_mismatch_raises(spark, cat):
    """Round-11 advisory: BigQuery errors on object-type mismatch —
    CREATE OR REPLACE MATERIALIZED VIEW over a plain TABLE and CREATE
    OR REPLACE TABLE over an MV both raise instead of silently
    replacing/demoting; DROP first makes either legal again."""
    run(spark, cat, "CREATE OR REPLACE TABLE `p.tm.t` AS SELECT 1 AS id")
    with pytest.raises(WorkerException, match="object-type mismatch"):
        run(
            spark,
            cat,
            "CREATE OR REPLACE MATERIALIZED VIEW `p.tm.t` AS"
            " SELECT COUNT(*) AS n FROM `p.tm.t`",
        )
    run(
        spark,
        cat,
        "CREATE OR REPLACE TABLE `p.tm.b` AS SELECT 1 AS id;"
        "CREATE MATERIALIZED VIEW `p.tm.mv` AS"
        " SELECT COUNT(*) AS n FROM `p.tm.b`",
    )
    with pytest.raises(WorkerException, match="object-type mismatch"):
        run(spark, cat, "CREATE OR REPLACE TABLE `p.tm.mv` AS SELECT 2 AS id")
    # the MV's own re-create still routes through its TABLE rewrite
    run(
        spark,
        cat,
        "CREATE OR REPLACE MATERIALIZED VIEW `p.tm.mv` AS"
        " SELECT COUNT(*) AS n FROM `p.tm.b`",
    )
    run(
        spark,
        cat,
        "DROP MATERIALIZED VIEW `p.tm.mv`;"
        "CREATE OR REPLACE TABLE `p.tm.mv` AS SELECT 7 AS id",
    )


def test_mv_having_composition_requires_exact_sums(spark, cat):
    """Round-11 advisory: float SUM re-aggregation reassociates, so a
    HAVING boundary over it could flip a group in/out — HAVING
    composes only over integral/decimal partials; the float shape
    recomputes from base (correct, just not MV-served)."""
    run(
        spark,
        cat,
        "CREATE OR REPLACE TABLE `p.hv.t` AS"
        " SELECT 'a' AS k, CAST(1 AS INT64) AS vi, CAST(0.1 AS FLOAT64)"
        " AS vf UNION ALL SELECT 'a', 2, 0.2 UNION ALL SELECT 'b', 5, 0.5;"
        "CREATE MATERIALIZED VIEW `p.hv.mv` AS SELECT k, SUM(vi) AS si,"
        " SUM(vf) AS sf, COUNT(*) AS c FROM `p.hv.t` GROUP BY k",
    )
    wi = run(
        spark,
        cat,
        "SELECT k, COUNT(*) AS c FROM `p.hv.t` GROUP BY k"
        " HAVING SUM(vi) > 2 ORDER BY k",
    )
    assert any("containment" in line for line in wi.log), wi.log
    assert [(r.k, r.c) for r in wi.result.collect()] == [("a", 2), ("b", 1)]
    wf = run(
        spark,
        cat,
        "SELECT k, COUNT(*) AS c FROM `p.hv.t` GROUP BY k"
        " HAVING SUM(vf) > 0.2 ORDER BY k",
    )
    assert not any("containment" in line for line in wf.log), wf.log
    assert [(r.k, r.c) for r in wf.result.collect()] == [("a", 2), ("b", 1)]
    # float SUM in the SELECT list (no HAVING boundary) still composes
    wp = run(spark, cat, "SELECT k, SUM(vf) AS s FROM `p.hv.t` GROUP BY k")
    assert any("containment" in line for line in wp.log), wp.log


def test_untrackable_index_survives_failed_native_dml(spark, cat):
    """Round-11 advisory: the untrackable-index purge fired BEFORE the
    fall-through native statement ran, so a DML that failed analysis
    (mutated nothing) still destroyed a valid index entry. The purge
    now fires only after the native statement succeeds."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS sess_purge_t")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    loc = wh.replace("file:", "") + "/sess_purge_t"
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql("SELECT 1 AS id, 'alpha' AS txt").write.mode(
        "overwrite"
    ).saveAsTable("sess_purge_t")
    run(spark, cat, "CREATE SEARCH INDEX upx ON `sess_purge_t` (txt)")
    q = "SELECT id FROM sess_purge_t WHERE SEARCH(txt, 'alpha')"
    assert any("routed" in line for line in run(spark, cat, q).log)
    with pytest.raises(Exception):
        run(
            spark,
            cat,
            "INSERT INTO sess_purge_t VALUES (2, 'beta', 'ARITY_BOOM')",
        )
    w = run(spark, cat, q)
    assert any("routed" in line for line in w.log), w.log
    assert sorted(r.id for r in w.result.collect()) == [1]
    # a SUCCESSFUL native insert still purges (the r9/r10 contract)
    run(spark, cat, "INSERT INTO sess_purge_t VALUES (2, 'alpha beta')")
    w2 = run(spark, cat, q + " ORDER BY id")
    assert not any("routed" in line for line in w2.log), w2.log
    assert sorted(r.id for r in w2.result.collect()) == [1, 2]


def test_two_part_mv_names_scope_to_owning_project(spark, cat):
    """Round-11 advisory: a 2-part MV record (`ds.mv`) listed in
    INFORMATION_SCHEMA.MATERIALIZED_VIEWS/TABLES of dataset `ds` under
    EVERY project — it must resolve to the dataset's unique owning
    project only."""
    run(
        spark,
        cat,
        "CREATE OR REPLACE TABLE `proj1.dsx.base` AS SELECT 1 AS id;"
        "CREATE MATERIALIZED VIEW `dsx.mv2p` AS"
        " SELECT COUNT(*) AS n FROM `proj1.dsx.base`;"
        "CREATE OR REPLACE TABLE `proj2.other.t` AS SELECT 1 AS id",
    )
    w = run(
        spark,
        cat,
        "SELECT table_name FROM"
        " proj1.dsx.INFORMATION_SCHEMA.MATERIALIZED_VIEWS",
    )
    assert [r.table_name for r in w.result.collect()] == ["mv2p"]
    w2 = run(
        spark,
        cat,
        "SELECT table_name FROM"
        " proj2.dsx.INFORMATION_SCHEMA.MATERIALIZED_VIEWS",
    )
    assert w2.result.collect() == []


def test_column_defaults_full_lifecycle(spark, cat):
    """BigQuery column DEFAULTs (round 11): captured from CREATE TABLE
    DDL (before or after NOT NULL), applied by INSERT for omitted
    columns and the bare ``DEFAULT`` keyword in VALUES, by ``SET col =
    DEFAULT`` in UPDATE and MERGE, and by MERGE INSERT for omitted
    columns; ALTER COLUMN SET/DROP DEFAULT edits the stored set;
    CREATE OR REPLACE without DEFAULT clauses clears it; TEMP TABLE
    DEFAULTs are loud (no session-plane default machinery)."""
    run(
        spark,
        cat,
        "CREATE OR REPLACE TABLE `p.dd.t` (id INT64,"
        " tag STRING DEFAULT 'zz', score FLOAT64 DEFAULT 1.5 NOT NULL);"
        "INSERT INTO `p.dd.t` (id) VALUES (1);"
        "INSERT INTO `p.dd.t` VALUES (2, DEFAULT, 9.0);"
        "INSERT INTO `p.dd.t` (id, score) VALUES (3, DEFAULT);",
    )
    w = run(spark, cat, "SELECT * FROM `p.dd.t` ORDER BY id")
    assert [tuple(r) for r in w.result.collect()] == [
        (1, "zz", 1.5),
        (2, "zz", 9.0),
        (3, "zz", 1.5),
    ]
    run(
        spark,
        cat,
        "UPDATE `p.dd.t` SET tag = 'xx' WHERE id = 1;"
        "UPDATE `p.dd.t` SET tag = DEFAULT WHERE id = 1;"
        "MERGE `p.dd.t` t USING (SELECT 9 AS id UNION ALL SELECT 2) s"
        " ON t.id = s.id"
        " WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)"
        " WHEN MATCHED THEN UPDATE SET score = DEFAULT;",
    )
    w = run(spark, cat, "SELECT * FROM `p.dd.t` ORDER BY id")
    assert [tuple(r) for r in w.result.collect()] == [
        (1, "zz", 1.5),
        (2, "zz", 1.5),
        (3, "zz", 1.5),
        (9, "zz", 1.5),
    ]
    # expression defaults evaluate at insert time
    run(
        spark,
        cat,
        "CREATE OR REPLACE TABLE `p.dd.ts`"
        " (id INT64, d DATE DEFAULT CURRENT_DATE());"
        "INSERT INTO `p.dd.ts` (id) VALUES (1);",
    )
    w = run(spark, cat, "SELECT d IS NOT NULL AS has_d FROM `p.dd.ts`")
    assert w.result.collect()[0]["has_d"] is True
    # ALTER COLUMN SET / DROP DEFAULT
    run(
        spark,
        cat,
        "ALTER TABLE `p.dd.t` ALTER COLUMN tag SET DEFAULT 'ww';"
        "INSERT INTO `p.dd.t` (id) VALUES (10);"
        "ALTER TABLE `p.dd.t` ALTER COLUMN tag DROP DEFAULT;"
        "INSERT INTO `p.dd.t` (id) VALUES (11);",
    )
    w = run(
        spark, cat,
        "SELECT id, tag FROM `p.dd.t` WHERE id >= 10 ORDER BY id",
    )
    assert [tuple(r) for r in w.result.collect()] == [
        (10, "ww"), (11, None),
    ]
    # OR REPLACE without DEFAULTs clears the stored set
    run(
        spark,
        cat,
        "CREATE OR REPLACE TABLE `p.dd.t` (id INT64, tag STRING);"
        "INSERT INTO `p.dd.t` (id) VALUES (7);",
    )
    w = run(spark, cat, "SELECT tag FROM `p.dd.t`")
    assert w.result.collect()[0]["tag"] is None
    # TEMP TABLE defaults reject loudly
    with pytest.raises(WorkerException, match="DEFAULT"):
        run(
            spark,
            cat,
            "CREATE TEMP TABLE tt (id INT64, tag STRING DEFAULT 'x')"
            " AS SELECT 1, 'a'",
        )
    # partition-pruned UPDATE and MERGE apply defaults too
    run(
        spark,
        cat,
        "CREATE OR REPLACE TABLE `p.dd.pp`"
        " (d DATE, id INT64, tag STRING DEFAULT 'pd')"
        " PARTITION BY d;"
        "INSERT INTO `p.dd.pp` (d, id)"
        " VALUES (DATE '2024-01-01', 1), (DATE '2024-02-01', 2);"
        "UPDATE `p.dd.pp` SET tag = DEFAULT WHERE d = DATE '2024-01-01';"
        "MERGE `p.dd.pp` t USING"
        " (SELECT DATE '2024-02-01' AS d, 3 AS id) s"
        " ON t.d = s.d AND t.id = s.id"
        " WHEN NOT MATCHED THEN INSERT (d, id) VALUES (s.d, s.id);",
    )
    w = run(spark, cat, "SELECT id, tag FROM `p.dd.pp` ORDER BY id")
    assert [tuple(r) for r in w.result.collect()] == [
        (1, "pd"), (2, "pd"), (3, "pd"),
    ]


def test_parameterized_types_and_bytes_literals(spark, cat):
    """Parameterized DDL types (STRING(10), BYTES(5), NUMERIC(10,2))
    map to Spark types — NUMERIC keeps precision/scale, lengths drop —
    and BigQuery bytes literals (b'…', escapes, rb'…' raw) become hex
    literals (round-11 probes: both previously failed loudly)."""
    run(
        spark,
        cat,
        "CREATE OR REPLACE TABLE `p.dd.pt`"
        " (s STRING(10), n NUMERIC(10,2), b BYTES(5));"
        "INSERT INTO `p.dd.pt` VALUES ('abc', 1.256, b'xy');",
    )
    w = run(
        spark, cat,
        "SELECT s, n, CAST(b AS STRING) AS bs FROM `p.dd.pt`",
    )
    import decimal

    assert [tuple(r) for r in w.result.collect()] == [
        ("abc", decimal.Decimal("1.26"), "xy")
    ]
    w = run(
        spark,
        cat,
        r"SELECT b'\x41\x42' AS h, TO_HEX(b'hi') AS hx,"
        r" BYTE_LENGTH(b'\000\377') AS bl, rb'a\nb' AS rw,"
        r" CAST(B'it\'s' AS STRING) AS q",
    )
    r = w.result.collect()[0]
    assert bytes(r["h"]) == b"AB"
    assert r["hx"] == "6869"
    assert r["bl"] == 2
    assert bytes(r["rw"]) == b"a\\nb"
    assert r["q"] == "it's"


def test_read_schema_memo_rekeyed_across_aligned_writes(spark, cat):
    """r12 DML-plane optimization: a schema-preserving append or
    copy-on-write swap carries the verified read-schema memo to the new
    fingerprint (no footer re-inference per DML statement), while a
    misaligned append drops it (footer inference on the next read)."""
    from crmint_spark import catalog as C

    run(
        spark,
        cat,
        "CREATE OR REPLACE TABLE `p.rk.t` AS"
        " SELECT CAST(1 AS INT64) AS id, 'a' AS tag",
    )
    key = (id(spark), cat.path_for("p.rk.t"))
    cat.read("p.rk.t")  # primes on miss
    entry0 = C._READ_SCHEMA_CACHE.get(key)
    assert entry0 is not None and entry0[0] == cat.table_fingerprint("p.rk.t")

    # aligned DML append: entry carried to the new fingerprint
    run(spark, cat, "INSERT INTO `p.rk.t` VALUES (2, 'b')")
    entry1 = C._READ_SCHEMA_CACHE.get(key)
    assert entry1 is not None
    assert entry1[0] == cat.table_fingerprint("p.rk.t")
    assert entry1[0] != entry0[0]

    # copy-on-write swap (UPDATE): carried again
    run(spark, cat, "UPDATE `p.rk.t` SET tag = 'z' WHERE id = 2")
    entry2 = C._READ_SCHEMA_CACHE.get(key)
    assert entry2 is not None
    assert entry2[0] == cat.table_fingerprint("p.rk.t")
    assert [tuple(r) for r in run(
        spark, cat, "SELECT id, tag FROM `p.rk.t` ORDER BY id"
    ).result.collect()] == [(1, "a"), (2, "z")]

    # a mismatched written frame (different column order/types) must
    # refuse the carry; a matching one re-keys to the live fingerprint
    mismatched = spark.sql("SELECT 'c' AS tag, CAST(3 AS INT) AS id")
    C._READ_SCHEMA_CACHE[key] = ("stale-fp", entry2[1])
    cat.rekey_read_schema_memo("p.rk.t", "stale-fp", mismatched.schema, None)
    assert C._READ_SCHEMA_CACHE[key][0] == "stale-fp"  # refused
    cat.rekey_read_schema_memo("p.rk.t", "stale-fp", entry2[1], None)
    assert C._READ_SCHEMA_CACHE[key][0] == cat.table_fingerprint("p.rk.t")
