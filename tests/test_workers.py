"""Worker unit tests — the reference's worker-test shape (mocked
transports, config assertions) adapted to Spark (SURVEY §5)."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crmint_spark.catalog import Catalog  # noqa: E402
from crmint_spark.workers import find_worker  # noqa: E402
from crmint_spark.workers.audience import deep_subset, diff_audiences  # noqa: E402
from crmint_spark.workers.base import WorkerContext, WorkerException  # noqa: E402


@pytest.fixture()
def ctx(spark, tmp_path):
    return WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))


def _seed_table(ctx, table_id, rows, schema):
    df = ctx.spark.createDataFrame(rows, schema)
    ctx.catalog.write(df, table_id)
    return df


# -- SQL executor -----------------------------------------------------------


def test_assert_statement(ctx):
    _seed_table(ctx, "p.d.a_src", [(1,), (2,), (3,)], "id long")
    view = ctx.catalog.register("p.d.a_src")
    # passing ASSERT lets the script continue to its final SELECT
    w = find_worker("SparkSQLExecutor")(
        {
            "script": f"""
            ASSERT (SELECT COUNT(*) FROM {view}) = 3 AS 'seed rows present';
            SELECT MAX(id) AS m FROM {view}
            """,
            "dry_run": False,
        },
        ctx,
    )
    w.execute()
    assert w.result.collect()[0]["m"] == 3
    assert any("ASSERT passed" in line for line in w.log)
    # FALSE fails with the user message
    with pytest.raises(WorkerException, match="too few rows"):
        find_worker("SparkSQLExecutor")(
            {
                "script": f"ASSERT (SELECT COUNT(*) FROM {view}) > 99 AS 'too few rows'",
                "dry_run": False,
            },
            ctx,
        ).execute()
    # NULL condition is a failure too (BigQuery semantics), default message
    with pytest.raises(WorkerException, match="ASSERT failed"):
        find_worker("SparkSQLExecutor")(
            {"script": "ASSERT CAST(NULL AS BOOL)", "dry_run": False},
            ctx,
        ).execute()
    # dry run only validates
    w = find_worker("SparkSQLExecutor")(
        {"script": "ASSERT 1 = 2 AS 'never evaluated'", "dry_run": True},
        ctx,
    )
    w.execute()


def test_snapshot_clone_ddl(ctx):
    _seed_table(ctx, "p.d.sn_base", [(1, 10.0), (2, 20.0)], "id long, bal double")
    run = lambda s: find_worker("SparkSQLExecutor")(
        {"script": s, "dry_run": False}, ctx
    ).execute()
    run("CREATE SNAPSHOT TABLE `p.d.sn_snap` CLONE `p.d.sn_base`")
    assert ctx.catalog.exists("p.d.sn_snap")
    # IF NOT EXISTS skips an existing snapshot instead of overwriting
    ctx.catalog.write(
        ctx.spark.createDataFrame([(9, 99.0)], "id long, bal double"),
        "p.d.sn_base",
    )
    run("CREATE SNAPSHOT TABLE IF NOT EXISTS `p.d.sn_snap` CLONE `p.d.sn_base`")
    assert ctx.catalog.read("p.d.sn_snap").count() == 2
    # plain CREATE TABLE ... CLONE also routes here
    run("CREATE TABLE `p.d.sn_copy` CLONE `p.d.sn_base`")
    assert ctx.catalog.read("p.d.sn_copy").count() == 1
    # time travel: a pre-creation instant errors (BigQuery contract);
    # a valid instant clones from the version store (test_dml covers
    # the positive path end-to-end)
    with pytest.raises(WorkerException, match="did not exist"):
        run(
            "CREATE SNAPSHOT TABLE `p.d.sn_t` CLONE `p.d.sn_base`"
            " FOR SYSTEM_TIME AS OF"
            " TIMESTAMP_SUB(CURRENT_TIMESTAMP(), INTERVAL 1 HOUR)"
        )
    run("DROP SNAPSHOT TABLE `p.d.sn_snap`")
    assert not ctx.catalog.exists("p.d.sn_snap")
    with pytest.raises(WorkerException, match="snapshot not found"):
        run("DROP SNAPSHOT TABLE `p.d.sn_snap`")
    run("DROP SNAPSHOT TABLE IF EXISTS `p.d.sn_snap`")
    # COPY routes through the same clone machinery; LIKE copies only
    # the schema
    run("CREATE TABLE `p.d.sn_copy2` COPY `p.d.sn_base`")
    assert ctx.catalog.read("p.d.sn_copy2").count() == 1
    run("CREATE TABLE `p.d.sn_like` LIKE `p.d.sn_base`")
    like = ctx.catalog.read("p.d.sn_like")
    assert like.count() == 0 and like.columns == ["id", "bal"]


def test_transactions(ctx):
    _seed_table(
        ctx, "p.d.tx", [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, bal double"
    )
    run = lambda s: find_worker("SparkSQLExecutor")(
        {"script": s, "dry_run": False}, ctx
    ).execute()

    def bals():
        return {
            r["id"]: r["bal"] for r in ctx.catalog.read("p.d.tx").collect()
        }

    # rollback restores the pre-image across multiple mutations
    run("""
        BEGIN TRANSACTION;
        UPDATE `p.d.tx` SET bal = 0 WHERE id = 1;
        DELETE FROM `p.d.tx` WHERE id = 3;
        ROLLBACK TRANSACTION;
        SELECT 1
        """)
    assert bals() == {1: 10.0, 2: 20.0, 3: 30.0}
    # a failing statement inside an open transaction rolls back
    with pytest.raises(Exception):
        run("""
            BEGIN TRANSACTION;
            UPDATE `p.d.tx` SET bal = 99 WHERE id = 2;
            SELECT * FROM `p.d.not_a_table`;
            COMMIT TRANSACTION
            """)
    assert bals() == {1: 10.0, 2: 20.0, 3: 30.0}
    # a script that forgets COMMIT fails loudly and rolls back
    with pytest.raises(WorkerException, match="open transaction"):
        run("BEGIN TRANSACTION; UPDATE `p.d.tx` SET bal = 7 WHERE id = 1")
    assert bals()[1] == 10.0
    # an EXCEPTION handler may ROLLBACK explicitly and continue
    w = find_worker("SparkSQLExecutor")(
        {
            "script": """
            BEGIN TRANSACTION;
            UPDATE `p.d.tx` SET bal = -1 WHERE id = 1;
            BEGIN
              SELECT ERROR('boom');
            EXCEPTION WHEN ERROR THEN
              ROLLBACK TRANSACTION;
            END;
            SELECT COUNT(*) AS n FROM `p.d.tx`
            """,
            "dry_run": False,
        },
        ctx,
    )
    w.execute()
    assert w.result.collect()[0]["n"] == 3
    assert bals()[1] == 10.0
    # commit persists and discards backups
    run("""
        BEGIN TRANSACTION;
        UPDATE `p.d.tx` SET bal = bal + 1 WHERE id = 2;
        COMMIT
        """)
    assert bals()[2] == 21.0
    with pytest.raises(WorkerException, match="without an open"):
        run("COMMIT TRANSACTION")
    with pytest.raises(WorkerException, match="nested"):
        run("BEGIN TRANSACTION; BEGIN TRANSACTION; COMMIT; COMMIT")


def test_sql_executor_script_with_declare_set(ctx):
    _seed_table(
        ctx, "p.d.src", [(1, "a"), (2, "b"), (3, "c")], "id long, tag string"
    )
    view = ctx.catalog.register("p.d.src")
    w = find_worker("SparkSQLExecutor")(
        {
            "script": f"""
            DECLARE cutoff INT64 DEFAULT 1;
            SET cutoff = (SELECT MAX(id) - 1 FROM {view});
            SELECT id, tag FROM {view} WHERE id <= cutoff
            """,
            "dry_run": False,
        },
        ctx,
    )
    w.execute()
    rows = {tuple(r) for r in w.result.collect()}
    assert rows == {(1, "a"), (2, "b")}


def _script_jobs(spark, script: str):
    """Run ``script`` without a catalog under its own Spark job group ->
    (worker, jobs the group launched). A control job in a second group
    runs last: the listener bus delivers jobs in order, so once the
    control shows, every job of the script has been counted."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"script-{uuid.uuid4().hex[:8]}"
    w = find_worker("SparkSQLExecutor")(
        {"script": script, "dry_run": False},
        WorkerContext(spark=spark, catalog=None),
    )
    try:
        sc.setJobGroup(group, "script under test")
        w.execute()
        sc.setJobGroup(group + "-end", "control")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 60
    while not sc.statusTracker().getJobIdsForGroup(group + "-end"):
        assert time.time() < deadline, "control job never reported"
        time.sleep(0.05)
    return w, len(sc.statusTracker().getJobIdsForGroup(group))


def test_constant_script_statements_launch_no_spark_job(spark):
    """DECLARE / SET / IF / WHILE / RAISE values that fold to constants
    evaluate on the driver: the whole script launches no Spark job."""
    w, jobs = _script_jobs(spark, """
    DECLARE i INT64 DEFAULT 0;
    DECLARE total INT64 DEFAULT 10;
    DECLARE msg STRING DEFAULT '';
    WHILE i < 3 DO
      SET i = i + 1;
      SET total = total + i;
    END WHILE;
    IF total = 16 THEN
      SET msg = CONCAT('total ', CAST(total AS STRING));
    END IF;
    BEGIN
      RAISE USING MESSAGE = CONCAT('boom: ', msg);
    EXCEPTION WHEN ERROR THEN
      SET msg = @@error.message;
    END;
    SELECT i AS i, total AS total, msg AS msg
    """)
    assert jobs == 0
    row = w.result.first()
    assert (row["i"], row["total"]) == (3, 16)
    assert "boom: total 16" in row["msg"]


def test_script_scalars_keep_their_values(ctx):
    """Scalar subqueries, non-deterministic and time functions, a
    condition ending in a ``--`` comment, and CALL arguments evaluate
    to the same values through the one scalar path."""
    import datetime

    def run(script):
        w = find_worker("SparkSQLExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    run("""
    CREATE PROCEDURE `p.d.bump`(IN step INT64, INOUT acc INT64)
    BEGIN
      SET acc = acc + step;
    END
    """)
    before = datetime.datetime.now()
    row = run("""
    DECLARE top INT64;
    DECLARE hit BOOL DEFAULT FALSE;
    DECLARE commented STRING DEFAULT 'no';
    DECLARE ts TIMESTAMP DEFAULT CURRENT_TIMESTAMP();
    DECLARE acc INT64 DEFAULT 5;
    SET top = (SELECT MAX(v) FROM (SELECT 3 AS v UNION ALL SELECT 9 UNION ALL SELECT 4));
    IF RAND() < 2 THEN
      SET hit = TRUE;
    END IF;
    IF top > 8 -- the scalar subquery's MAX
    THEN
      SET commented = 'yes';
    END IF;
    CALL `p.d.bump`(top * 2, acc);
    SELECT top AS top, hit AS hit, commented AS commented, ts AS ts, acc AS acc
    """).result.first()
    after = datetime.datetime.now()
    assert (row["top"], row["hit"], row["commented"], row["acc"]) == (
        9, True, "yes", 23,
    )
    assert isinstance(row["ts"], datetime.datetime)
    slack = datetime.timedelta(seconds=1)
    assert before - slack <= row["ts"] <= after + slack, (before, row["ts"])


def test_sql_executor_approx_sketches_option(ctx):
    """The approx_sketches script option swaps the HLL family from the
    exact-set algebra to DataSketches aggregates end-to-end; the
    estimate stays within HLL error of the exact answer."""
    rows = [(i % 500,) for i in range(5000)]
    _seed_table(ctx, "p.d.hll_src", rows, "x long")
    view = ctx.catalog.register("p.d.hll_src")
    script = (
        f"SELECT HLL_COUNT.MERGE(s) AS m FROM "
        f"(SELECT x % 7 AS g, HLL_COUNT.INIT(x) AS s FROM {view} GROUP BY x % 7)"
    )
    exact = find_worker("BQScriptExecutor")(
        {"script": script, "dry_run": False}, ctx
    )
    exact.execute()
    assert exact.result.first()["m"] == 500
    approx = find_worker("BQScriptExecutor")(
        {"script": script, "dry_run": False, "approx_sketches": True}, ctx
    )
    approx.execute()
    assert abs(approx.result.first()["m"] - 500) <= 25


def test_sql_executor_dry_run_and_empty(ctx):
    _seed_table(ctx, "p.d.src2", [(1,)], "id long")
    view = ctx.catalog.register("p.d.src2")
    w = find_worker("BQScriptExecutor")(
        {"script": f"SELECT * FROM {view}", "dry_run": True}, ctx
    )
    w.execute()  # plans, no action
    with pytest.raises(WorkerException):
        find_worker("SparkSQLExecutor")({"script": "  ", "dry_run": False}, ctx).execute()


def test_query_launcher_dispositions(ctx):
    _seed_table(ctx, "p.d.in", [(1,), (2,)], "v long")
    view = ctx.catalog.register("p.d.in")
    launcher = find_worker("BQQueryLauncher")
    launcher(
        {
            "query": f"SELECT v * 10 AS v10 FROM {view}",
            "destination_table": "p.d.out",
            "overwrite": True,
        },
        ctx,
    ).execute()
    assert ctx.catalog.read("p.d.out").count() == 2
    launcher(
        {
            "query": f"SELECT v * 10 AS v10 FROM {view}",
            "destination_table": "p.d.out",
            "overwrite": False,  # append
        },
        ctx,
    ).execute()
    assert ctx.catalog.read("p.d.out").count() == 4


def test_sql_executor_ctas_ddl(ctx):
    """CREATE OR REPLACE TABLE ... AS (ref: model_bqml.sql:18,31;
    output.sql:9) through the script executor + catalog metadata scan
    (the __TABLES_SUMMARY__ equivalent, ref: output.sql:2-7)."""
    _seed_table(ctx, "p.d.ctas_src", [(1,), (2,), (3,)], "v long")
    view = ctx.catalog.register("p.d.ctas_src")
    ctx.spark.sql("DROP TABLE IF EXISTS ctas_out")
    find_worker("SparkSQLExecutor")(
        {
            "script": f"""
            CREATE OR REPLACE TABLE ctas_out USING parquet AS
              SELECT v, v * 2 AS v2 FROM {view} WHERE v > 1
            """,
            "dry_run": False,
        },
        ctx,
    ).execute()
    assert ctx.spark.table("ctas_out").count() == 2
    ctx.spark.sql("DROP TABLE ctas_out")
    # catalog metadata listing
    assert ctx.catalog.list_tables("p", "d") == [
        t for t in ctx.catalog.list_tables("p", "d")
    ]
    assert "ctas_src" in ctx.catalog.list_tables("p", "d")


# -- file io ----------------------------------------------------------------


def test_sql_executor_temp_function_and_view_script(ctx):
    """A script creating a SQL UDF + view and using both downstream
    (ref: bq_script_executor.py:26-36 names UDF/view DDL as supported)."""
    _seed_table(ctx, "p.d.vals", [(1, 4), (2, 0)], "a long, b long")
    view = ctx.catalog.register("p.d.vals")
    w = find_worker("BQScriptExecutor")(
        {
            "script": f"""
            CREATE TEMP FUNCTION ratio(x INT64, y INT64) AS (SAFE_DIVIDE(x, y));
            CREATE OR REPLACE VIEW `p.d.ratios` AS
              SELECT a, ratio(a, b) AS r FROM {view};
            SELECT a, r FROM `p.d.ratios` WHERE r IS NOT NULL
            """,
            "dry_run": False,
        },
        ctx,
    )
    w.execute()
    rows = [tuple(r) for r in w.result.collect()]
    assert rows == [(1, 0.25)]


def test_sql_executor_dry_run_bqml(ctx):
    """Dry run must validate BQML statements via their inner SELECT
    instead of handing CREATE MODEL to spark.sql (ParseException)."""
    _seed_table(
        ctx, "p.d.train", [(1.0, 0), (2.0, 1)], "f double, label int"
    )
    view = ctx.catalog.register("p.d.train")
    w = find_worker("BQScriptExecutor")(
        {
            "script": (
                "CREATE OR REPLACE MODEL `p.d.m` "
                "OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label']) "
                f"AS SELECT f, label FROM {view}; "
                f"SELECT * FROM ML.PREDICT(MODEL `p.d.m`, (SELECT f FROM {view}))"
            ),
            "dry_run": True,
        },
        ctx,
    )
    w.execute()
    assert sum("dry run OK" in line for line in w.log) == 2


def test_file_importer_csv_roundtrip(ctx, tmp_path):
    src = tmp_path / "in.csv"
    src.write_text("id,name\n1,alpha\n2,beta\n3,\n")
    find_worker("StorageToBQImporter")(
        {
            "source_uris": [str(src)],
            "destination_table": "p.d.imported",
            "csv_skip_leading_rows": 1,
            "schema": json.dumps(
                [
                    {"name": "id", "type": "INT64"},
                    {"name": "name", "type": "STRING"},
                ]
            ),
        },
        ctx,
    ).execute()
    rows = {tuple(r) for r in ctx.catalog.read("p.d.imported").collect()}
    assert (1, "alpha") in rows and (2, "beta") in rows and len(rows) == 3


def test_file_importer_multi_file_glob(ctx, tmp_path):
    (tmp_path / "part1.csv").write_text("id,name\n1,a\n")
    (tmp_path / "part2.csv").write_text("id,name\n2,b\n3,c\n")
    find_worker("FileImporter")(
        {
            "source_uris": [str(tmp_path / "part*.csv")],
            "destination_table": "p.d.globbed",
            "csv_skip_leading_rows": 1,
            "schema": json.dumps(
                [{"name": "id", "type": "INT64"}, {"name": "name", "type": "STRING"}]
            ),
        },
        ctx,
    ).execute()
    assert ctx.catalog.read("p.d.globbed").count() == 3


def test_file_importer_skip_leading_rows_gt1(ctx, tmp_path):
    """BigQuery skip_leading_rows=N skips N rows per file; Spark's
    header option only skips one — N>1 must really drop N per file."""
    (tmp_path / "s1.csv").write_text("file one preamble\nid,name\n1,a\n2,b\n")
    (tmp_path / "s2.csv").write_text("file two preamble\nid,name\n3,c\n")
    find_worker("StorageToBQImporter")(
        {
            "source_uris": [str(tmp_path / "s*.csv")],
            "destination_table": "p.d.skipped",
            "csv_skip_leading_rows": 2,
            "schema": json.dumps(
                [{"name": "id", "type": "INT64"}, {"name": "name", "type": "STRING"}]
            ),
        },
        ctx,
    ).execute()
    rows = {tuple(r) for r in ctx.catalog.read("p.d.skipped").collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}


def test_file_importer_ndjson_and_null_marker(ctx, tmp_path):
    src = tmp_path / "in.json"
    src.write_text('{"id": 1, "x": "a"}\n{"id": 2, "x": null}\n')
    find_worker("FileImporter")(
        {
            "source_uris": [str(src)],
            "destination_table": "p.d.nd",
            "import_json": True,
        },
        ctx,
    ).execute()
    assert ctx.catalog.read("p.d.nd").count() == 2


def test_file_exporter_csv_gzip(ctx, tmp_path):
    _seed_table(ctx, "p.d.exp", [(1, "x")], "id long, s string")
    out = tmp_path / "out"
    find_worker("BQToStorageExporter")(
        {
            "source_table": "p.d.exp",
            "destination_uri": str(out),
            "export_gzip": True,
            "print_header": True,
        },
        ctx,
    ).execute()
    files = [f for f in os.listdir(out) if f.endswith(".csv.gz")]
    assert files


def test_file_exporter_reference_bq_params(ctx, tmp_path):
    """The reference addresses the source via bq_project_id/bq_dataset_id/
    bq_table_id (ref: bq_to_storage_exporter.py:26-33); exported pipeline
    JSON must run unchanged."""
    _seed_table(ctx, "p.d.refexp", [(1, "x"), (2, "y")], "id long, s string")
    out = tmp_path / "refout"
    w = find_worker("BQToStorageExporter")(
        {
            "bq_project_id": "p",
            "bq_dataset_id": "d",
            "bq_table_id": "refexp",
            "destination_uri": str(out),
            "export_json": True,
        },
        ctx,
    )
    w.execute()
    assert ctx.spark.read.json(str(out)).count() == 2
    # neither addressing form -> loud failure, not an empty-dir read
    with pytest.raises(WorkerException, match="source_table"):
        find_worker("BQToStorageExporter")(
            {"destination_uri": str(out)}, ctx
        ).execute()


def test_exporter_reads_script_ctas_output(ctx, tmp_path):
    """CTAS from SparkSQLExecutor lands in the Spark session catalog;
    Catalog.read must fall back to it so a script job can feed a
    downstream exporter in one pipeline (BigQuery-catalog semantics)."""
    _seed_table(ctx, "p.d.ctas_src", [(1, "a"), (2, "b")], "id long, tag string")
    view = ctx.catalog.register("p.d.ctas_src")
    find_worker("BQScriptExecutor")(
        {
            "script": (
                "CREATE OR REPLACE TABLE `p.d.ctas_out` AS "
                f"SELECT id, tag FROM {view} WHERE id = 2"
            ),
            "dry_run": False,
        },
        ctx,
    ).execute()
    out = tmp_path / "ctasout"
    find_worker("BQToStorageExporter")(
        {
            "bq_dataset_id": "p.d",
            "bq_table_id": "ctas_out",
            "destination_uri": str(out),
            "export_json": True,
        },
        ctx,
    ).execute()
    got = ctx.spark.read.json(str(out)).collect()
    assert [(r["id"], r["tag"]) for r in got] == [(2, "b")]
    with pytest.raises(ValueError, match="not found"):
        ctx.catalog.read("p.d.never_created")


# -- streaming sink ---------------------------------------------------------


from crmint_spark.workers.transports import (  # noqa: E402
    FileRecordingTransport,
    InMemoryAudienceTransport,
    InMemoryGAConfigTransport,
)


def test_json_template_sink_batching(ctx, tmp_path):
    _seed_table(
        ctx,
        "p.d.mp",
        [(f"c{i}", float(i)) for i in range(25)],
        "client_id string, value double",
    )
    rec_dir = str(tmp_path / "rec")
    ctx.transport = FileRecordingTransport(rec_dir)
    find_worker("BQToMeasurementProtocolGA4")(
        {
            "source_table": "p.d.mp",
            "template": '{"client_id": "$client_id", "value": $value}',
            "mp_batch_size": 10,
        },
        ctx,
    ).execute()
    batches = []
    for f in os.listdir(rec_dir):
        with open(os.path.join(rec_dir, f)) as fh:
            batches.append(json.load(fh))
    total = sum(len(b) for b in batches)
    assert total == 25
    assert all(len(b) <= 10 for b in batches)
    flat = [item for b in batches for item in b]
    assert {d["client_id"] for d in flat} == {f"c{i}" for i in range(25)}


# -- audience diff ----------------------------------------------------------


def test_deep_subset():
    assert deep_subset({"a": 1}, {"a": 1, "b": 2})
    assert not deep_subset({"a": 1}, {"a": 2})
    assert deep_subset({"a": {"b": [1, 2]}}, {"a": {"b": [1, 2], "c": 3}})
    assert not deep_subset({"a": [1]}, {"a": [1, 2]})  # list length strict


def test_diff_audiences_insert_vs_update():
    rendered = [
        {"name": "aud1", "membershipDurationDays": 30},
        {"name": "aud2", "membershipDurationDays": 60},
        {"name": "aud3", "membershipDurationDays": 90},
    ]
    existing = [
        {"name": "aud1", "membershipDurationDays": 30, "resourceName": "r/1"},
        {"name": "aud2", "membershipDurationDays": 61, "resourceName": "r/2"},
    ]
    inserts, updates = diff_audiences(rendered, existing)
    assert [a["name"] for a in inserts] == ["aud3"]
    assert updates == [("r/2", rendered[1])]


def test_ga4_audiences_immutable_field_warning(ctx):
    _seed_table(
        ctx,
        "p.d.aud_im",
        [("aud1", 90), ("aud2", 45)],
        "name string, days int",
    )
    t = InMemoryAudienceTransport(
        existing=[
            # aud1 exists with a different (immutable) duration
            {"name": "aud1", "membershipDurationDays": 30, "resourceName": "r/1",
             "adsPersonalizationEnabled": True},
        ]
    )
    ctx.transport = t
    w = find_worker("GA4AudiencesUpdater")(
        {
            "source_table": "p.d.aud_im",
            "template": '{"name": "$name", "membershipDurationDays": $days}',
        },
        ctx,
    )
    w.execute()
    # aud1: immutable drift -> warned, NOT updated; aud2: inserted
    assert t.updated == []
    assert [a["name"] for a in t.inserted] == ["aud2"]
    assert any("immutable" in line for line in w.log)


def test_audiences_updater_end_to_end(ctx):
    _seed_table(
        ctx,
        "p.d.aud",
        [("aud1", 30), ("aud2", 60)],
        "name string, days int",
    )
    t = InMemoryAudienceTransport(
        existing=[{"name": "aud1", "membershipDurationDays": 30, "resourceName": "r/1"}]
    )
    ctx.transport = t
    find_worker("GA4AudiencesUpdater")(
        {
            "source_table": "p.d.aud",
            "template": '{"name": "$name", "membershipDurationDays": $days}',
        },
        ctx,
    ).execute()
    assert [a["name"] for a in t.inserted] == ["aud2"]
    assert t.updated == []  # aud1 payload deep-matches remote


# -- ML workers -------------------------------------------------------------


def test_ml_train_predict_roundtrip(ctx):
    import random

    random.seed(7)
    rows = []
    for i in range(200):
        x1 = random.random()
        x2 = random.random()
        label = 1 if x1 + x2 > 1.0 else 0
        rows.append((float(x1), float(x2), label))
    _seed_table(ctx, "p.d.train", rows, "x1 double, x2 double, label int")
    find_worker("MLTrainer")(
        {
            "source_table": "p.d.train",
            "model_name": "m1",
            "model_type": "LOGISTIC_REG",
            "label_col": "label",
            "feature_cols": ["x1", "x2"],
        },
        ctx,
    ).execute()
    find_worker("MLPredictor")(
        {
            "source_table": "p.d.train",
            "model_name": "m1",
            "model_type": "LOGISTIC_REG",
            "destination_table": "p.d.scored",
        },
        ctx,
    ).execute()
    scored = ctx.catalog.read("p.d.scored")
    assert "probability" in scored.columns
    assert "predicted_label" in scored.columns
    n = scored.count()
    assert n == 200
    from pyspark.sql import functions as F

    acc = (
        scored.select(
            (F.col("predicted_label") == F.col("label")).cast("int").alias("ok")
        )
        .agg(F.avg("ok"))
        .first()[0]
    )
    assert acc > 0.8


# -- GA config workers ------------------------------------------------------


def test_conversion_event_creator_idempotent(ctx):
    t = InMemoryGAConfigTransport()
    ctx.transport = t
    w = find_worker("GA4ConversionEventCreator")
    params = {"property_id": "p1", "event_name": "purchase"}
    w(params, ctx).execute()
    worker2 = w(params, ctx)
    worker2.execute()  # 409 path must not raise (ref: ga_utils.py:520-528)
    assert t.conversion_events == [("p1", "purchase")]
    assert "already exists" in worker2.log[0]


def test_custom_dimension_validation(ctx):
    from crmint_spark.workers.base import WorkerException

    t = InMemoryGAConfigTransport()
    ctx.transport = t
    w = find_worker("GA4CustomDimensionCreator")
    w(
        {"property_id": "p1", "parameter_name": "ltv_bucket", "scope": "EVENT"},
        ctx,
    ).execute()
    assert t.custom_dimensions[0][1] == "ltv_bucket"
    with pytest.raises(WorkerException):
        w(
            {"property_id": "p1", "parameter_name": "9bad name", "scope": "EVENT"},
            ctx,
        ).execute()
    with pytest.raises(WorkerException):
        w(
            {"property_id": "p1", "parameter_name": "ok", "scope": "BOGUS"},
            ctx,
        ).execute()


def test_ga_data_importer_chunks_and_retention(ctx, tmp_path):
    _seed_table(
        ctx, "p.d.gaimp", [(i, f"u{i}") for i in range(100)], "id long, u string"
    )
    t = InMemoryGAConfigTransport()
    t.uploads = [
        {"id": "old1", "uploadTime": "2024-01-01"},
        {"id": "old2", "uploadTime": "2024-01-02"},
        {"id": "new1", "uploadTime": "2024-02-01"},
    ]
    ctx.transport = t
    find_worker("GADataImporter")(
        {
            "source_table": "p.d.gaimp",
            "property_id": "p1",
            "dataset_id": "ds1",
            "max_uploads": 2,
            "staging_dir": str(tmp_path / "staging"),
        },
        ctx,
    ).execute()
    assert t.finished
    assert b"id,u" in t.chunks[0] or b"u,id" in t.chunks[0]  # header present
    assert t.deleted == ["old1"]  # keep newest 2


def test_vertexai_aliases_resolve():
    from crmint_spark.workers import WORKERS

    assert WORKERS["VertexAITabularTrainer"].__name__ == "MLTrainer"
    assert WORKERS["VertexAIBatchPredictorToBQ"].__name__ == "MLPredictor"


# -- storage cleaner --------------------------------------------------------


def test_storage_cleaner_age_filter(ctx, tmp_path):
    base = tmp_path / "wh"
    old = base / "p" / "d" / "t" / "old.parquet"
    old.parent.mkdir(parents=True, exist_ok=True)
    old.write_text("x")
    os.utime(old, (1, 1))  # epoch-old
    fresh = base / "p" / "d" / "t" / "fresh.parquet"
    fresh.write_text("y")
    find_worker("StorageCleaner")(
        {"file_patterns": ["*.parquet"], "days_to_keep": 30, "base_dir": str(base)},
        ctx,
    ).execute()
    assert not old.exists()
    assert fresh.exists()


def test_file_roundtrip_parquet_and_orc(ctx, tmp_path):
    _seed_table(ctx, "p.d.colsrc", [(1, "x"), (2, "y")], "id long, s string")
    for fmt in ("parquet", "orc"):
        out = tmp_path / f"out_{fmt}"
        find_worker("FileExporter")(
            {
                "source_table": "p.d.colsrc",
                "destination_uri": str(out),
                "destination_format": fmt,
            },
            ctx,
        ).execute()
        find_worker("FileImporter")(
            {
                "source_uris": [str(out)],
                "destination_table": f"p.d.back_{fmt}",
                "source_format": fmt,
            },
            ctx,
        ).execute()
        rows = {tuple(r) for r in ctx.catalog.read(f"p.d.back_{fmt}").collect()}
        assert rows == {(1, "x"), (2, "y")}, fmt


def test_file_exporter_orc_gzip_maps_to_zlib(ctx, tmp_path):
    _seed_table(ctx, "p.d.orcgz", [(1, "x")], "id long, s string")
    out = tmp_path / "orc_gz"
    find_worker("FileExporter")(
        {
            "source_table": "p.d.orcgz",
            "destination_uri": str(out),
            "destination_format": "orc",
            "export_gzip": True,
        },
        ctx,
    ).execute()
    import glob

    assert glob.glob(str(out / "*.orc"))


def test_gzip_codec_per_format():
    from crmint_spark.workers.file_io import gzip_codec_for

    assert gzip_codec_for("orc") == "zlib"
    assert gzip_codec_for("avro") == "deflate"
    assert gzip_codec_for("csv") == "gzip"
    assert gzip_codec_for("parquet") == "gzip"


def test_export_data_and_load_data_statements(spark, tmp_path):
    """BigQuery EXPORT DATA / LOAD DATA script statements: export writes
    the query result in the requested format, LOAD DATA ingests files
    into a catalog table through the FileImporter machinery (INTO
    appends, OVERWRITE truncates, skip_leading_rows/delimiter honored)."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))
    out = str(tmp_path / "export_out")
    w = find_worker("BQScriptExecutor")(
        {
            "script": f"""
            EXPORT DATA OPTIONS(
              uri='{out}/*.csv', format='CSV', overwrite=true,
              header=true, field_delimiter=';'
            ) AS SELECT id AS k, id * 2 AS v FROM UNNEST([1, 2, 3]) AS id
            """,
            "dry_run": False,
        },
        ctx,
    )
    w.execute()
    import glob

    files = glob.glob(out + "/*.csv")
    assert files
    text = "".join(open(f).read() for f in sorted(files))
    assert "k;v" in text and "2;4" in text

    # write a semicolon CSV with a junk preamble line, then LOAD it
    src = tmp_path / "in.csv"
    src.write_text("JUNK PREAMBLE\nk;v\n10;20\n30;60\n")
    w2 = find_worker("BQScriptExecutor")(
        {
            "script": f"""
            LOAD DATA INTO `p.d.loaded` FROM FILES(
              format='CSV', uris=['{src}'], skip_leading_rows=2,
              field_delimiter=';'
            );
            LOAD DATA INTO `p.d.loaded` FROM FILES(
              format='CSV', uris=['{src}'], skip_leading_rows=2,
              field_delimiter=';'
            );
            SELECT COUNT(*) AS n FROM `p.d.loaded`
            """,
            "dry_run": False,
        },
        ctx,
    )
    w2.execute()
    assert w2.result.first()["n"] == 4  # INTO appends
    w3 = find_worker("BQScriptExecutor")(
        {
            "script": f"""
            LOAD DATA OVERWRITE `p.d.loaded` FROM FILES(
              format='CSV', uris=['{src}'], skip_leading_rows=2,
              field_delimiter=';'
            );
            SELECT COUNT(*) AS n FROM `p.d.loaded`
            """,
            "dry_run": False,
        },
        ctx,
    )
    w3.execute()
    assert w3.result.first()["n"] == 2  # OVERWRITE truncates
    # dry run validates without side effects
    w4 = find_worker("BQScriptExecutor")(
        {
            "script": "EXPORT DATA OPTIONS(uri='/tmp/x/*.csv') AS SELECT 1 AS a",
            "dry_run": True,
        },
        ctx,
    )
    w4.execute()


def test_execute_immediate_dynamic_sql(spark, tmp_path):
    """EXECUTE IMMEDIATE: the string expression evaluates engine-side
    (CONCAT + script variables), @params splice as typed literals via
    USING, INTO captures the first row into script variables, and the
    dynamic statement runs through the full routing chain (CTAS here)."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))
    w = find_worker("BQScriptExecutor")(
        {
            "script": """
            DECLARE tbl STRING DEFAULT 'p.d.dyn';
            DECLARE n INT64;
            EXECUTE IMMEDIATE CONCAT(
              'CREATE OR REPLACE TABLE `', tbl,
              '` AS SELECT id * @mult AS v FROM UNNEST([1, 2, 3]) AS id'
            ) USING 10 AS mult;
            EXECUTE IMMEDIATE 'SELECT CAST(SUM(v) AS INT64) FROM `p.d.dyn`'
              INTO n;
            SELECT n AS total, n > 50 AS big
            """,
            "dry_run": False,
        },
        ctx,
    )
    w.execute()
    row = w.result.first()
    assert row["total"] == 60 and row["big"] is True
    assert any("EXECUTE IMMEDIATE" in line for line in w.log)

    # string params splice safely; INTO arity mismatch is a loud error
    w2 = find_worker("BQScriptExecutor")(
        {
            "script": """
            EXECUTE IMMEDIATE
              "SELECT COUNT(*) FROM (SELECT @w AS x) WHERE x = 'a''b'"
              USING "a'b" AS w
            """,
            "dry_run": False,
        },
        ctx,
    )
    w2.execute()
    assert w2.result.first()[0] == 1
    import pytest as _pytest

    from crmint_spark.workers.base import WorkerException

    w3 = find_worker("BQScriptExecutor")(
        {
            "script": "DECLARE a INT64; DECLARE b INT64;\n"
            "EXECUTE IMMEDIATE 'SELECT 1' INTO a, b",
            "dry_run": False,
        },
        ctx,
    )
    with _pytest.raises(WorkerException, match="expects 2"):
        w3.execute()
    # dry run validates the dynamic statement without side effects
    w4 = find_worker("BQScriptExecutor")(
        {
            "script": "EXECUTE IMMEDIATE 'SELECT 1 AS x'",
            "dry_run": True,
        },
        ctx,
    )
    w4.execute()


def test_script_control_flow_blocks(spark, tmp_path):
    """BigQuery procedural scripting: IF/ELSEIF/ELSE, WHILE with
    BREAK/CONTINUE, BEGIN...EXCEPTION handlers with @@error.message,
    and RETURN — blocks group across semicolons and nest."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))

    def run(script, dry=False):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": dry}, ctx
        )
        w.execute()
        return w

    # IF / ELSEIF / ELSE picks exactly one branch
    w = run("""
    DECLARE x INT64 DEFAULT 7;
    IF x > 10 THEN
      SELECT 'big' AS r;
    ELSEIF x > 5 THEN
      SELECT 'mid' AS r;
    ELSE
      SELECT 'small' AS r;
    END IF
    """)
    assert w.result.first()["r"] == "mid"

    # WHILE accumulates via SET; CONTINUE skips, BREAK exits; nested IF
    w = run("""
    DECLARE i INT64 DEFAULT 0;
    DECLARE total INT64 DEFAULT 0;
    WHILE TRUE DO
      SET i = i + 1;
      IF i = 3 THEN
        CONTINUE;
      END IF;
      IF i > 6 THEN
        BREAK;
      END IF;
      SET total = total + i;
    END WHILE;
    SELECT total AS t, i AS n
    """)
    row = w.result.first()
    assert row["t"] == 1 + 2 + 4 + 5 + 6 and row["n"] == 7

    # BEGIN ... EXCEPTION WHEN ERROR THEN captures @@error.message
    w = run("""
    BEGIN
      SELECT ERROR('boom boom');
    EXCEPTION WHEN ERROR THEN
      SELECT CONTAINS_SUBSTR(@@error.message, 'boom') AS caught;
    END
    """)
    assert w.result.first()["caught"] is True

    # RETURN stops the script, keeping the last result
    w = run("""
    SELECT 1 AS before;
    RETURN;
    SELECT ERROR('never runs')
    """)
    assert w.result.first()["before"] == 1

    # dry run validates every branch without executing
    run(
        "IF TRUE THEN SELECT 1 AS a; ELSE SELECT 2 AS a; END IF",
        dry=True,
    )
    # CASE expressions inside blocks don't confuse END matching
    w = run("""
    IF (CASE WHEN 1 < 2 THEN 'y' ELSE 'n' END) = 'y' THEN
      SELECT CASE WHEN TRUE THEN 10 END AS v;
    END IF
    """)
    assert w.result.first()["v"] == 10


def test_script_for_in_loop(spark, tmp_path):
    """FOR record IN (query) DO ... END FOR: iterates the query rows in
    order, exposing record.col to the body; BREAK works."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))
    w = find_worker("BQScriptExecutor")(
        {
            "script": """
            DECLARE total INT64 DEFAULT 0;
            DECLARE names STRING DEFAULT '';
            FOR rec IN (
              SELECT id AS k, CONCAT('n', CAST(id AS STRING)) AS label
              FROM UNNEST([1, 2, 3, 4]) AS id ORDER BY id
            ) DO
              IF rec.k > 3 THEN
                BREAK;
              END IF;
              SET total = total + rec.k;
              SET names = CONCAT(names, rec.label);
            END FOR;
            SELECT total AS t, names AS s
            """,
            "dry_run": False,
        },
        ctx,
    )
    w.execute()
    row = w.result.first()
    assert row["t"] == 6 and row["s"] == "n1n2n3"


def test_create_procedure_and_call(spark, tmp_path):
    """CREATE PROCEDURE persists a BEGIN block with IN/OUT/INOUT
    parameters; CALL evaluates IN args, runs the body in its own
    variable scope, and copies OUT/INOUT values back. Procedures
    persist across scripts in the same catalog; RETURN exits only the
    procedure."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))

    def run(script):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    run("""
    CREATE OR REPLACE PROCEDURE `p.d.scale_it`(
      IN x INT64, IN factor INT64, OUT y INT64, INOUT acc INT64)
    BEGIN
      SET y = x * factor;
      SET acc = acc + y;
      IF y > 100 THEN
        RETURN;
      END IF;
      SET y = y + 1;
    END
    """)
    # second script: CALL twice, proving persistence + INOUT threading
    w = run("""
    DECLARE got INT64;
    DECLARE running INT64 DEFAULT 0;
    CALL `p.d.scale_it`(7, 3, got, running);
    CALL `p.d.scale_it`(60, 2, got, running);
    SELECT got AS g, running AS r
    """)
    row = w.result.first()
    # call 1: y = 21 -> +1 = 22, acc 0+21=21; call 2: y=120 (RETURN
    # before increment), acc 21+120 = 141
    assert row["g"] == 120 and row["r"] == 141, row

    import pytest as _pytest

    from crmint_spark.workers.base import WorkerException

    with _pytest.raises(WorkerException, match="unknown procedure"):
        run("CALL `p.d.nope`(1)")
    with _pytest.raises(WorkerException, match="expected 4"):
        run("CALL `p.d.scale_it`(1, 2)")


def test_create_table_function_and_call(spark, tmp_path):
    """SQL table functions: CREATE TABLE FUNCTION persists the
    parameterized query; call sites expand to subqueries with argument
    expressions spliced for the parameters (joins, aliases, and repeat
    calls all work; arity mismatches are loud)."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))

    def run(script):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    run("""
    CREATE OR REPLACE TABLE FUNCTION `p.d.upto`(n INT64, tag STRING) AS (
      SELECT id AS k, CONCAT(tag, CAST(id AS STRING)) AS label
      FROM UNNEST(GENERATE_ARRAY(1, n)) AS id
    )
    """)
    w = run("""
    SELECT a.k, a.label, b.label AS blabel
    FROM `p.d.upto`(3, 'x') a
    JOIN `p.d.upto`(2 + 3, 'y') b ON a.k = b.k
    ORDER BY a.k
    """)
    rows = w.result.collect()
    assert [(r.k, r.label, r.blabel) for r in rows] == [
        (1, "x1", "y1"), (2, "x2", "y2"), (3, "x3", "y3"),
    ]
    import pytest as _pytest

    from crmint_spark.workers.base import WorkerException

    with _pytest.raises(WorkerException, match="expects 2"):
        run("SELECT * FROM `p.d.upto`(1)")


def test_drop_and_alter_table_ddl(spark, tmp_path):
    """DROP TABLE/VIEW/PROCEDURE/TABLE FUNCTION/MODEL and ALTER TABLE
    ADD/DROP/RENAME COLUMN + RENAME TO: catalog parquet tables evolve
    copy-on-write; IF EXISTS forms are idempotent."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext, WorkerException

    cat = Catalog(spark, str(tmp_path / "wh"))
    ctx = WorkerContext(spark=spark, catalog=cat)

    def run(script):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    cat.write(
        spark.sql("SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(5)"),
        "p.d.base",
    )
    run("ALTER TABLE `p.d.base` ADD COLUMN note STRING, extra INT64")
    df = cat.read("p.d.base")
    assert set(df.columns) == {"k", "v", "note", "extra"}
    assert df.filter(df.note.isNull()).count() == 5
    run("ALTER TABLE `p.d.base` RENAME COLUMN v TO value")
    assert "value" in cat.read("p.d.base").columns
    run("ALTER TABLE `p.d.base` DROP COLUMN extra")
    assert "extra" not in cat.read("p.d.base").columns
    run("ALTER TABLE `p.d.base` RENAME TO `p.d.renamed`")
    assert cat.exists("p.d.renamed") and not cat.exists("p.d.base")
    assert cat.read("p.d.renamed").count() == 5
    run("DROP TABLE `p.d.renamed`")
    assert not cat.exists("p.d.renamed")

    # procedure / TVF / model drops
    run(
        "CREATE OR REPLACE PROCEDURE `p.d.pp`(IN x INT64) BEGIN "
        "SET x = x; END"
    )
    run("DROP PROCEDURE `p.d.pp`")
    import pytest as _pytest

    with _pytest.raises(WorkerException, match="unknown procedure"):
        run("CALL `p.d.pp`(1)")
    run("DROP PROCEDURE IF EXISTS `p.d.pp`")  # idempotent
    with _pytest.raises(WorkerException, match="unknown"):
        run("DROP TABLE FUNCTION `p.d.nofn`")
    run("""
    CREATE OR REPLACE MODEL `p.d.m1`
    OPTIONS(MODEL_TYPE='LINEAR_REG', INPUT_LABEL_COLS=['y'],
            MAX_ITERATIONS=3) AS (
      SELECT CAST(id AS DOUBLE) AS x, CAST(id * 2 AS DOUBLE) AS y
      FROM range(50)
    );
    DROP MODEL `p.d.m1`
    """)
    with _pytest.raises(Exception):
        run("SELECT * FROM ML.WEIGHTS(MODEL `p.d.m1`)")
    run("DROP MODEL IF EXISTS `p.d.m1`")


def test_create_and_drop_schema(spark, tmp_path):
    """CREATE SCHEMA makes the dataset directory; DROP SCHEMA refuses
    non-empty datasets without CASCADE."""
    import os as _os

    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext, WorkerException

    cat = Catalog(spark, str(tmp_path / "wh"))
    ctx = WorkerContext(spark=spark, catalog=cat)

    def run(script):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    run("CREATE SCHEMA `proj.fresh` OPTIONS(location='us')")
    assert _os.path.isdir(_os.path.join(cat.root, "proj", "fresh"))
    cat.write(spark.range(3), "proj.fresh.t")
    import pytest as _pytest

    with _pytest.raises(WorkerException, match="CASCADE"):
        run("DROP SCHEMA `proj.fresh`")
    run("DROP SCHEMA `proj.fresh` CASCADE")
    assert not _os.path.isdir(_os.path.join(cat.root, "proj", "fresh"))
    run("DROP SCHEMA IF EXISTS `proj.fresh`")


def test_information_schema_views(spark, tmp_path):
    """INFORMATION_SCHEMA.TABLES/COLUMNS/SCHEMATA resolve bare and
    backticked, accept dataset-only qualifiers when unambiguous, and
    report BigQuery type spellings."""
    import pytest as _pytest

    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write(
        spark.sql("SELECT CAST(1 AS BIGINT) AS k, 'x' AS s, array(CAST(1.5 AS DOUBLE)) AS v"),
        "proj.dsq.t1",
    )
    ctx = WorkerContext(spark=spark, catalog=cat)

    def run(script):
        w = SparkSQLExecutor({"script": script, "dry_run": False}, ctx)
        w.execute()
        return w.result.collect()

    rows = run("SELECT table_name, table_type FROM proj.dsq.INFORMATION_SCHEMA.TABLES")
    assert [(r[0], r[1]) for r in rows] == [("t1", "BASE TABLE")]
    cols = run(
        "SELECT column_name, ordinal_position, data_type"
        " FROM `proj.dsq.INFORMATION_SCHEMA.COLUMNS` ORDER BY ordinal_position"
    )
    assert [(r[0], r[1], r[2]) for r in cols] == [
        ("k", 1, "INT64"),
        ("s", 2, "STRING"),
        ("v", 3, "ARRAY<FLOAT64>"),
    ]
    # dataset-only qualifier resolves through the unique owning project
    rows2 = run("SELECT table_name FROM dsq.INFORMATION_SCHEMA.TABLES")
    assert [r[0] for r in rows2] == ["t1"]
    schemas = run(
        "SELECT schema_name FROM proj.INFORMATION_SCHEMA.SCHEMATA ORDER BY 1"
    )
    assert [r[0] for r in schemas] == ["dsq"]
    with _pytest.raises(Exception, match="unknown|ambiguous"):
        run("SELECT * FROM nosuch.INFORMATION_SCHEMA.TABLES")


def test_vector_and_search_index_ddl(ctx):
    """CREATE/DROP VECTOR|SEARCH INDEX: metadata-only (BigQuery
    semantics — queries keep their text), options validated, drops
    checked for existence."""
    import pytest as _pytest

    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    def run(script):
        w = SparkSQLExecutor({"script": script, "dry_run": False}, ctx)
        w.execute()
        return w

    w = run(
        "CREATE VECTOR INDEX vidx ON p.d.emb(embedding)"
        " OPTIONS(index_type='IVF', distance_type='COSINE');"
        "CREATE SEARCH INDEX sidx ON p.d.docs(ALL COLUMNS);"
        "CREATE VECTOR INDEX IF NOT EXISTS vidx ON p.d.emb(embedding)"
    )
    assert any("recorded" in line for line in w.log)
    assert any("skipped" in line for line in w.log)
    run("DROP VECTOR INDEX vidx ON p.d.emb; DROP SEARCH INDEX sidx;"
        " DROP VECTOR INDEX IF EXISTS vidx")
    with _pytest.raises(WorkerException, match="does not exist"):
        run("DROP VECTOR INDEX nope")
    with _pytest.raises(WorkerException, match="invalid distance_type"):
        run("CREATE VECTOR INDEX bad ON p.d.emb(embedding)"
            " OPTIONS(distance_type='MANHATTAN')")


def test_for_in_over_bound_raises(ctx, monkeypatch):
    """FOR..IN must fail loudly (not silently truncate) when the
    driving query exceeds the loop bound, mirroring WHILE/LOOP."""
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    monkeypatch.setattr(SparkSQLExecutor, "_MAX_LOOP_ITERATIONS", 5)
    script = """
    DECLARE n INT64 DEFAULT 0;
    FOR rec IN (
      SELECT id AS k FROM UNNEST([1, 2, 3, 4, 5, 6]) AS id ORDER BY id
    ) DO
      SET n = n + rec.k;
    END FOR;
    SELECT n AS total
    """
    with pytest.raises(WorkerException, match="FOR..IN query exceeded"):
        find_worker("SparkSQLExecutor")(
            {"script": script, "dry_run": False}, ctx
        ).execute()
    # at exactly the bound it still runs
    monkeypatch.setattr(SparkSQLExecutor, "_MAX_LOOP_ITERATIONS", 6)
    w = find_worker("SparkSQLExecutor")(
        {"script": script, "dry_run": False}, ctx
    )
    w.execute()
    assert w.result.collect()[0]["total"] == 21


def test_exception_handler_large_trailing_select(ctx):
    """Arming an EXCEPTION handler materializes the trailing SELECT on
    the executors (localCheckpoint), not via a driver collect — result
    stays a full distributed DataFrame."""
    w = find_worker("SparkSQLExecutor")(
        {
            "script": """
            BEGIN
              SELECT x AS id, x * 2 AS dbl
              FROM UNNEST(GENERATE_ARRAY(1, 50000)) AS x;
            EXCEPTION WHEN ERROR THEN
              SELECT -1 AS id, -2 AS dbl;
            END
            """,
            "dry_run": False,
        },
        ctx,
    )
    w.execute()
    assert w.result.count() == 50000
    agg = w.result.selectExpr("SUM(dbl) AS s").collect()[0]["s"]
    assert agg == 50000 * 50001


def test_script_literal_backslash_roundtrip(ctx):
    """A string variable containing backslashes splices losslessly
    (backslashes escaped before quotes — ADVICE r5)."""
    from crmint_spark.dialect import script_literal

    val = "C:\\temp\\new\\'quoted'"
    lit = script_literal(val)
    got = ctx.spark.sql(f"SELECT {lit} AS v").collect()[0]["v"]
    assert got == val
    # end-to-end through EXECUTE IMMEDIATE USING
    w = find_worker("SparkSQLExecutor")(
        {
            "script": r"""
            DECLARE p STRING DEFAULT 'C:\\temp\\x';
            EXECUTE IMMEDIATE 'SELECT @pp AS path' USING p AS pp
            """,
            "dry_run": False,
        },
        ctx,
    )
    w.execute()
    assert w.result.collect()[0]["path"] == "C:\\temp\\x"


def test_drop_view_hyphenated_name(ctx):
    """DROP VIEW on a hyphenated project id resolves through
    _safe_view_name, consistent with registration (ADVICE r5)."""
    run = lambda s: find_worker("SparkSQLExecutor")(
        {"script": s, "dry_run": False}, ctx
    ).execute()
    run("CREATE VIEW `my-proj.d.v` AS SELECT 1 AS a")
    run("DROP VIEW `my-proj.d.v`")
    # re-create works after a clean drop
    run("CREATE VIEW `my-proj.d.v` AS SELECT 2 AS a; DROP VIEW `my-proj.d.v`")


def test_clone_snapshot_zero_copy(ctx):
    """Catalog.clone hardlinks parquet files — snapshot cost scales
    with file count, not table bytes (VERDICT r5 #5)."""
    _seed_table(ctx, "p.d.zc_base", [(i, float(i)) for i in range(100)],
                "id long, bal double")
    ctx.catalog.clone("p.d.zc_base", "p.d.zc_snap")
    src_dir = ctx.catalog.path_for("p.d.zc_base")
    dst_dir = ctx.catalog.path_for("p.d.zc_snap")
    src_files = sorted(
        f for f in os.listdir(src_dir) if f.endswith(".parquet")
    )
    assert src_files
    for f in src_files:
        s, d = os.stat(os.path.join(src_dir, f)), os.stat(os.path.join(dst_dir, f))
        assert s.st_ino == d.st_ino and s.st_nlink >= 2, f
    # rollback semantics survive zero-copy: mutate base, snapshot intact
    run = lambda s: find_worker("SparkSQLExecutor")(
        {"script": s, "dry_run": False}, ctx
    ).execute()
    run("BEGIN TRANSACTION; DELETE FROM `p.d.zc_base` WHERE id >= 50;"
        " ROLLBACK TRANSACTION; SELECT 1")
    assert ctx.catalog.read("p.d.zc_base").count() == 100


def test_search_index_routing_plan_and_equality(spark):
    """SEARCH() over an indexed table is served from pruned posting
    lists: corpus text column absent from every scan, postings scan
    partition-pruned to the query tokens' buckets, results identical
    to the scan-side predicate (VERDICT r5 #7)."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, "/root/testdata/sf0.001")

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False},
            WorkerContext(spark),
        )
        w.execute()
        return w

    q = ("SELECT doc_id FROM documents WHERE SEARCH(text, 'spark merge')"
         " ORDER BY doc_id")
    w = run("CREATE SEARCH INDEX sidx_rt ON documents(text);" + q)
    assert any("postings layout materialized" in line for line in w.log)
    assert any("routed through index (2 tokens" in line for line in w.log)
    routed = [r["doc_id"] for r in w.result.collect()]
    plan = w.result._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    corpus_scans = [l for l in scans if "__search_index__" not in l]
    assert corpus_scans and not any(
        "text" in l for l in corpus_scans
    ), plan  # corpus text column pruned from every non-postings scan
    assert any(
        "PartitionFilters: [tok_bucket" in l and " IN (" in l for l in scans
    ), plan
    # a single-column index elides the constant src_col from its rows
    # (round 8) — the postings scan must not read or filter it
    assert not any("src_col" in l for l in scans), plan
    # unindexed worker: scan-side predicate, same rows
    w2 = run(q)
    assert not any("routed" in line for line in w2.log)
    assert routed == [r["doc_id"] for r in w2.result.collect()]


def test_vector_index_offset_and_sparse_ids(spark):
    """IVF quantizer seeding runs on (id - min(id)), so an offset id
    space (keys from 1_000_000) indexes and routes like a 0-based one;
    a SPARSE id space under-fills the seed grid and must fall back to
    the exact path with correct results, not return zero rows
    (ADVICE r6 medium)."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, "/root/testdata/sf0.001")

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, WorkerContext(spark)
        )
        w.execute()
        return w

    spark.sql(
        "SELECT vec_id + 1000000 AS vec_id, label, embedding"
        " FROM embeddings"
    ).createOrReplaceTempView("emb_off")
    q = (
        "SELECT query.vec_id AS qid, base.vec_id AS bid"
        " FROM VECTOR_SEARCH(TABLE {t}, 'embedding',"
        " (SELECT vec_id, embedding FROM {t} WHERE vec_id = {q0}),"
        " top_k => 3) ORDER BY qid, bid"
    )
    w = run(
        "CREATE VECTOR INDEX vidx_off ON emb_off(embedding)"
        " OPTIONS(index_type='IVF');"
        + q.format(t="emb_off", q0=1000000)
    )
    assert any("routed through index" in l for l in w.log), w.log
    rows = w.result.collect()
    assert len(rows) == 3 and rows[0]["bid"] == 1000000, rows

    # sparse-but-unique ids (vec_id * 97): the stride grid still fills
    # (first K multiples in id order), so the index routes — and the
    # self-probe top-1 stays exact
    spark.sql(
        "SELECT vec_id * 97 AS vec_id, label, embedding FROM embeddings"
    ).createOrReplaceTempView("emb_sparse")
    w2 = run(
        "CREATE VECTOR INDEX vidx_sp ON emb_sparse(embedding)"
        " OPTIONS(index_type='IVF');"
        + q.format(t="emb_sparse", q0=0)
    )
    assert any("routed through index" in l for l in w2.log), w2.log
    rows2 = w2.result.collect()
    assert len(rows2) == 3 and rows2[0]["bid"] == 0, rows2
    # NON-UNIQUE ids cannot key a layout: the exact path serves
    spark.sql(
        "SELECT CAST(vec_id % 10 AS BIGINT) AS vec_id, label, embedding"
        " FROM embeddings"
    ).createOrReplaceTempView("emb_dup")
    w3 = run(
        "CREATE VECTOR INDEX vidx_dup ON emb_dup(embedding)"
        " OPTIONS(index_type='IVF');"
        "SELECT COUNT(*) AS n"
        " FROM VECTOR_SEARCH(TABLE emb_dup, 'embedding',"
        " (SELECT vec_id, embedding FROM emb_dup WHERE vec_id = 0"
        "  LIMIT 1), top_k => 3)"
    )
    assert any("exact path serves" in l for l in w3.log), w3.log
    assert not any("routed through index" in l for l in w3.log)
    assert w3.result.first()["n"] == 3


def test_index_id_column_picker_prefers_id_names(spark):
    """A leading integral metric column must not key the postings —
    the picker prefers id-named columns (ADVICE r6)."""
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    spark.createDataFrame(
        [(7, 0, "spark merge alpha"), (7, 1, "beta spark merge")],
        "views bigint, doc_id bigint, text string",
    ).createOrReplaceTempView("picker_docs")
    w = SparkSQLExecutor(
        {
            "script": (
                "CREATE SEARCH INDEX sidx_pick ON picker_docs(text);"
                "SELECT doc_id FROM picker_docs"
                " WHERE SEARCH(text, 'spark merge') ORDER BY doc_id"
            ),
            "dry_run": False,
        },
        WorkerContext(spark),
    )
    w.execute()
    assert any("routed through index" in l for l in w.log), w.log
    # duplicate `views` values would collapse postings to one id
    assert [r["doc_id"] for r in w.result.collect()] == [0, 1]


def test_search_index_multi_column_exactness(spark):
    """A multi-column SEARCH index answers SEARCH(<col>, ...) COLUMN-
    exactly: a token present only in another indexed column must not
    match (ADVICE r6 high — postings carry src_col), and the routed
    result equals the scan-side predicate."""
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    spark.createDataFrame(
        [
            (0, "spark merge guide", "window functions intro"),
            (1, "window tuning", "spark merge deep dive"),
            (2, "spark merge notes", "spark merge appendix"),
        ],
        "doc_id bigint, title string, body string",
    ).createOrReplaceTempView("mc_docs")

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, WorkerContext(spark)
        )
        w.execute()
        return w

    q = (
        "SELECT doc_id FROM mc_docs WHERE SEARCH(title, 'spark merge')"
        " ORDER BY doc_id"
    )
    w = run("CREATE SEARCH INDEX sidx_mc ON mc_docs(title, body);" + q)
    assert any("routed through index" in line for line in w.log), w.log
    # doc 1 matches only in body — a column-blind postings join would
    # wrongly include it
    assert [r["doc_id"] for r in w.result.collect()] == [0, 2]
    # the multi-column postings scan DOES carry the residual src_col
    # conjunct (single-column indexes elide it — round 8)
    plan = w.result._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(src_col,title)" in plan, plan
    w2 = run(q)  # unindexed worker: scan rewrite, same rows
    assert [r["doc_id"] for r in w2.result.collect()] == [0, 2]


def test_search_index_join_alias_not_misrouted(spark):
    """SEARCH(a.text, ...) where alias ``a`` is a DIFFERENT table in a
    join with the indexed table must keep the scan rewrite (ADVICE r6
    medium — the old guard only required the indexed table's name to
    appear anywhere in the statement)."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, "/root/testdata/sf0.001")
    spark.sql(
        "SELECT doc_id, 'spark merge everywhere' AS text"
        " FROM documents LIMIT 20"
    ).createOrReplaceTempView("annos")

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, WorkerContext(spark)
        )
        w.execute()
        return w

    q = (
        "SELECT COUNT(*) AS n FROM documents d JOIN annos a"
        " ON d.doc_id = a.doc_id WHERE SEARCH(a.text, 'spark merge')"
    )
    w = run("CREATE SEARCH INDEX sidx_ja ON documents(text);" + q)
    assert not any("routed through index" in line for line in w.log), w.log
    assert w.result.first()["n"] == 20
    # the qualified column on the INDEXED side still routes
    w2 = run(
        "CREATE SEARCH INDEX sidx_jb ON documents(text);"
        "SELECT COUNT(*) AS n FROM documents d JOIN annos a"
        " ON d.doc_id = a.doc_id WHERE SEARCH(d.text, 'spark merge')"
    )
    assert any("routed through index" in line for line in w2.log), w2.log


def test_search_index_routes_through_trivial_cte(spark):
    """SEARCH over a CTE that is a plain filter/projection of the
    indexed table still routes (VERDICT r6 #6: one level of aliasing),
    and matches the scan-side result."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, "/root/testdata/sf0.001")

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, WorkerContext(spark)
        )
        w.execute()
        return w

    q = (
        "WITH recent AS (SELECT doc_id, text FROM documents"
        " WHERE doc_id < 400)"
        " SELECT doc_id FROM recent WHERE SEARCH(text, 'spark merge')"
        " ORDER BY doc_id"
    )
    w = run("CREATE SEARCH INDEX sidx_cte ON documents(text);" + q)
    assert any("routed through index" in line for line in w.log), w.log
    routed = [r["doc_id"] for r in w.result.collect()]
    w2 = run(q)
    assert not any("routed" in line for line in w2.log)
    assert routed == [r["doc_id"] for r in w2.result.collect()]


def test_search_index_routes_through_two_level_cte(spark):
    """A CHAIN of trivial filter/projection CTEs still resolves to the
    indexed table (VERDICT r7 #5 — one level before round 8), and a
    non-trivial level (JOIN) anywhere in the chain blocks routing."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, "/root/testdata/sf0.001")

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, WorkerContext(spark)
        )
        w.execute()
        return w

    q = (
        "WITH recent AS (SELECT doc_id, text FROM documents"
        " WHERE doc_id < 400),"
        " narrowed AS (SELECT doc_id, text FROM recent WHERE doc_id >= 10)"
        " SELECT doc_id FROM narrowed WHERE SEARCH(text, 'spark merge')"
        " ORDER BY doc_id"
    )
    w = run("CREATE SEARCH INDEX sidx_cte2 ON documents(text);" + q)
    assert any("routed through index" in line for line in w.log), w.log
    routed = [r["doc_id"] for r in w.result.collect()]
    w2 = run(q)  # unindexed: scan rewrite, same rows
    assert routed == [r["doc_id"] for r in w2.result.collect()]
    # a JOIN level in the chain is NOT trivial: no routing
    q3 = (
        "WITH recent AS (SELECT d.doc_id, d.text FROM documents d"
        " JOIN documents e ON d.doc_id = e.doc_id),"
        " narrowed AS (SELECT doc_id, text FROM recent)"
        " SELECT COUNT(*) AS n FROM narrowed"
        " WHERE SEARCH(text, 'spark merge')"
    )
    w3 = run("CREATE SEARCH INDEX sidx_cte3 ON documents(text);" + q3)
    assert not any("routed through index" in line for line in w3.log), w3.log


def test_vector_search_routes_through_cte_chain(spark):
    """VECTOR_SEARCH over a two-level trivial CTE chain routes through
    the IVF layout with the levels' predicates ANDed, matching the
    exact path's rows."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, "/root/testdata/sf0.001")

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, WorkerContext(spark)
        )
        w.execute()
        return w

    q = (
        "WITH lvl1 AS (SELECT * FROM embeddings WHERE vec_id < 500),"
        " lvl2 AS (SELECT * FROM lvl1 WHERE vec_id >= 4)"
        " SELECT query.vec_id AS qid, base.vec_id AS nid"
        " FROM VECTOR_SEARCH(TABLE lvl2, 'embedding',"
        " (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 7),"
        " query_column_to_search => 'embedding', top_k => 3)"
        " ORDER BY qid, nid"
    )
    w = run(
        "CREATE VECTOR INDEX vidx_cte2 ON embeddings(embedding)"
        " OPTIONS(index_type='IVF');" + q
    )
    assert any("IVF" in line or "routed" in line for line in w.log), w.log
    routed = [tuple(r) for r in w.result.collect()]
    w2 = run(q)  # no index: exact path
    assert routed == [tuple(r) for r in w2.result.collect()]
    assert len(routed) == 3


def test_search_index_routing_respects_table(spark):
    """A same-named column on a DIFFERENT table must NOT be answered
    from the recorded index's postings (review finding: the routing
    used to match by column name alone)."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, "/root/testdata/sf0.001")
    spark.sql(
        "SELECT doc_id, concat('spark merge ', text) AS text"
        " FROM documents LIMIT 50"
    ).createOrReplaceTempView("emails")

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, WorkerContext(spark)
        )
        w.execute()
        return w

    q = ("SELECT COUNT(*) AS n FROM emails"
         " WHERE SEARCH(text, 'spark merge')")
    w = run("CREATE SEARCH INDEX sidx_tbl ON documents(text);" + q)
    # the scan rewrite must serve it (every emails row matches)
    assert not any("routed through index" in line for line in w.log), w.log
    assert w.result.first()["n"] == 50


def test_search_index_subquery_base_blocks_unqualified_routing(spark):
    """An inline subquery base in the FROM list is an UNRESOLVABLE
    relation: an unqualified SEARCH column could belong to it, so the
    routing must refuse and keep the scan rewrite (ADVICE r7 — the
    alias scanner used to skip ``FROM (...) z`` entirely, silently
    routing past the ambiguity)."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.workers.sql_executor import (
        SparkSQLExecutor,
        _relation_aliases,
    )

    register_testdata(spark, "/root/testdata/sf0.001")

    # the scanner records subquery bases as alias -> None sentinels
    m = _relation_aliases(
        "SELECT 1 FROM documents, (SELECT doc_id, 'x' AS text"
        " FROM documents) z WHERE a = 1"
    )
    assert m.get("z", "missing") is None
    assert m.get("documents") == "documents"
    m2 = _relation_aliases(
        "SELECT 1 FROM documents JOIN (SELECT 1 AS doc_id) ON true"
    )
    assert None in m2.values()  # anonymous subquery still blocks
    # a scalar subquery in the SELECT list is NOT a base relation —
    # no sentinel, routing stays enabled (review finding r8)
    m3 = _relation_aliases(
        "SELECT doc_id, (SELECT MAX(doc_id) FROM documents) AS mx"
        " FROM documents WHERE doc_id > 0"
    )
    assert None not in m3.values(), m3
    # ...same for a parenthesized subquery in a function argument
    m4 = _relation_aliases(
        "SELECT COALESCE(doc_id, (SELECT MIN(doc_id) FROM documents))"
        " FROM documents"
    )
    assert None not in m4.values(), m4

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, WorkerContext(spark)
        )
        w.execute()
        return w

    q = (
        "SELECT COUNT(*) AS n FROM documents,"
        " (SELECT doc_id AS zid, 'spark merge' AS ztext FROM documents"
        " LIMIT 5) z"
        " WHERE SEARCH(text, 'spark merge') AND doc_id = z.zid"
    )
    w = run("CREATE SEARCH INDEX sidx_subq ON documents(text);" + q)
    assert not any("routed through index" in line for line in w.log), w.log
    # the qualified form still routes (documents is resolvable)
    q2 = (
        "SELECT COUNT(*) AS n FROM documents d,"
        " (SELECT doc_id AS zid FROM documents LIMIT 5) z"
        " WHERE SEARCH(d.text, 'spark merge') AND d.doc_id = z.zid"
    )
    w2 = run("CREATE SEARCH INDEX sidx_subq2 ON documents(text);" + q2)
    assert any("routed through index" in line for line in w2.log), w2.log
    assert w.result.first()["n"] == w2.result.first()["n"]


def test_materialized_view_smart_rewrite(spark, tmp_path):
    """MV smart rewrite (VERDICT r7 #7): a SELECT that exactly matches
    a MATERIALIZED VIEW's defining query reads the materialized table
    (plan scans the MV, not the base); any base mutation flips the
    fingerprint and the query silently recomputes fresh; DROP
    MATERIALIZED VIEW stops the rewrite."""
    from crmint_spark.catalog import Catalog, register_testdata
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, "/root/testdata/sf0.001")
    cat = Catalog(spark, str(tmp_path / "wh"))
    ctx = WorkerContext(spark=spark, catalog=cat)
    cat.write(
        spark.sql(
            "SELECT c_mktsegment AS seg, c_acctbal AS bal FROM customer"
            " WHERE c_custkey <= 500"
        ),
        "p.crm.mvbase",
    )

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    agg = (
        "SELECT seg, COUNT(*) AS n, ROUND(SUM(bal), 2) AS tot"
        " FROM `p.crm.mvbase` GROUP BY seg"
    )
    run(f"CREATE MATERIALIZED VIEW `p.crm.mv1` AS {agg}")
    # spacing/case-folded duplicate of the defining query -> rewritten
    w = run(
        "SELECT   seg, count(*) AS n, round(SUM(bal), 2) AS tot"
        "  FROM `p.crm.mvbase`  GROUP BY seg"
    )
    assert any("smart rewrite; base" in line for line in w.log), w.log
    rewritten = sorted(tuple(r) for r in w.result.collect())
    plan = w.result._jdf.queryExecution().executedPlan().toString()
    # scans the MV's materialized (aggregated) storage, not the base:
    # the MV lives on the catalog plane since round 10, so the scan
    # shows the aggregate's 3-column schema instead of a table name
    assert "struct<seg:string,n:bigint,tot:double>" in plan, plan
    assert "mvbase" not in plan, plan
    # a DIFFERENT query (extra literal) must not match
    w0 = run(agg.replace("GROUP BY seg", "WHERE seg <> 'zz' GROUP BY seg"))
    assert not any("smart rewrite" in line for line in w0.log), w0.log
    # base mutation -> stale fingerprint -> fresh recompute
    run("INSERT INTO `p.crm.mvbase` VALUES ('ZNEW', 10.0)")
    w2 = run(agg)
    assert not any("smart rewrite; base" in line for line in w2.log), w2.log
    fresh = sorted(tuple(r) for r in w2.result.collect())
    assert any(r[0] == "ZNEW" for r in fresh)
    assert not any(r[0] == "ZNEW" for r in rewritten)
    # re-running the MV DDL re-materializes and re-arms the rewrite
    run(f"CREATE OR REPLACE MATERIALIZED VIEW `p.crm.mv1` AS {agg}")
    w3 = run(agg)
    assert any("smart rewrite; base" in line for line in w3.log), w3.log
    assert sorted(tuple(r) for r in w3.result.collect()) == fresh
    # a CREATE OR REPLACE TABLE over the MV's NAME is an object-type
    # mismatch — loud, like BigQuery (round-11 advisory; supersedes the
    # r8 silent-invalidation contract), and the MV record stays intact
    import pytest as _pytest

    from crmint_spark.workers.base import WorkerException

    with _pytest.raises(WorkerException, match="MATERIALIZED VIEW"):
        run(
            "CREATE OR REPLACE TABLE `p.crm.mv1` AS"
            " SELECT 'junk' AS seg, 0 AS n, 0.0 AS tot"
        )
    w3b = run(agg)
    assert any("smart rewrite; base" in line for line in w3b.log), w3b.log
    assert sorted(tuple(r) for r in w3b.result.collect()) == fresh
    # DROP stops the rewrite
    run("DROP MATERIALIZED VIEW `p.crm.mv1`")
    w4 = run(agg)
    assert not any("smart rewrite" in line for line in w4.log), w4.log
    assert sorted(tuple(r) for r in w4.result.collect()) == fresh


def test_vector_search_routes_through_trivial_base(spark):
    """VECTOR_SEARCH over a CTE or inline subquery that is SELECT *
    [WHERE ...] of the indexed table still routes (VERDICT r6 #6): the
    filter applies post-join on the layout rows, results equal the
    exact path, and opaque predicates keep the exact fallback."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, "/root/testdata/sf0.001")

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, WorkerContext(spark)
        )
        w.execute()
        return w

    body = """
    SELECT query.vec_id AS qid, base.vec_id AS bid
    FROM VECTOR_SEARCH(TABLE recent, 'embedding',
      (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
      top_k => 5, options => '{"fraction_lists_to_search": 1.0}')
    ORDER BY bid
    """
    q = (
        "WITH recent AS (SELECT * FROM embeddings WHERE vec_id < 500)"
        + body
    )
    w = run(
        "CREATE VECTOR INDEX vidx_tb ON embeddings(embedding)"
        " OPTIONS(index_type='IVF');" + q
    )
    assert any("routed through index" in l for l in w.log), w.log
    routed = [r["bid"] for r in w.result.collect()]
    assert routed and all(b < 500 for b in routed), routed
    w2 = run(q)  # unindexed: exact path over the same CTE
    assert not any("routed" in l for l in w2.log)
    assert routed == [r["bid"] for r in w2.result.collect()]
    # inline subquery base routes identically
    w3 = run(
        "CREATE VECTOR INDEX vidx_tb2 ON embeddings(embedding)"
        " OPTIONS(index_type='IVF');"
        + body.replace(
            "TABLE recent",
            "(SELECT * FROM embeddings WHERE vec_id < 500)",
        )
    )
    assert any("routed through index" in l for l in w3.log), w3.log
    assert routed == [r["bid"] for r in w3.result.collect()]
    # an opaque base (projection, not SELECT *) keeps the exact path
    w4 = run(
        "CREATE VECTOR INDEX vidx_tb3 ON embeddings(embedding)"
        " OPTIONS(index_type='IVF');"
        + body.replace(
            "TABLE recent",
            "(SELECT vec_id, label, embedding FROM embeddings"
            " WHERE vec_id < 500)",
        )
    )
    assert not any("routed through index" in l for l in w4.log), w4.log
    assert routed == [r["bid"] for r in w4.result.collect()]


def test_vector_search_cte_query_falls_back_exact(spark):
    """VECTOR_SEARCH whose query relation references the enclosing
    statement's CTE cannot be probe-pruned standalone — it must fall
    back to the exact path, not fail (review finding)."""
    from crmint_spark.catalog import register_testdata
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, "/root/testdata/sf0.001")

    def run(script):
        w = SparkSQLExecutor(
            {"script": script, "dry_run": False}, WorkerContext(spark)
        )
        w.execute()
        return w

    q = """
    WITH probes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2)
    SELECT query.vec_id AS qid, base.vec_id AS bid
    FROM VECTOR_SEARCH(TABLE embeddings, 'embedding', (SELECT * FROM probes),
                       top_k => 1)
    ORDER BY qid
    """
    w = run(
        "CREATE VECTOR INDEX vidx_cte ON embeddings(embedding)"
        " OPTIONS(index_type='IVF');" + q
    )
    rows = w.result.collect()
    assert len(rows) == 2
    # top-1 of a self-probe is the probe itself
    assert all(r["qid"] == r["bid"] for r in rows), rows


def test_scripting_raise_case_labels_temp_tables(ctx):
    """Round-6 scripting wave: RAISE USING MESSAGE, procedural CASE
    (valued + searched, desugared to IF), loop labels (BREAK/CONTINUE
    <label> through nested loops, labeled BEGIN), CREATE TEMP TABLE
    materialization, and the metadata-only ALTER ... SET OPTIONS /
    GRANT no-ops."""
    run = lambda s: find_worker("SparkSQLExecutor")(  # noqa: E731
        {"script": s, "dry_run": False}, ctx
    )

    w = run(
        "BEGIN RAISE USING MESSAGE = 'custom boom'; "
        "EXCEPTION WHEN ERROR THEN SELECT @@error.message AS m; END"
    )
    w.execute()
    assert w.result.first()["m"] == "custom boom"
    with pytest.raises(WorkerException, match="oops"):
        run("RAISE USING MESSAGE = 'oops'").execute()

    w = run(
        "DECLARE x INT64 DEFAULT 2; "
        "CASE x WHEN 1 THEN SELECT 'a' AS v; WHEN 2 THEN SELECT 'b' AS v;"
        " ELSE SELECT 'c' AS v; END CASE"
    )
    w.execute()
    assert w.result.first()["v"] == "b"
    w = run(
        "DECLARE x INT64 DEFAULT 9; "
        "CASE WHEN x < 5 THEN SELECT 'lo' AS v;"
        " WHEN x < 20 THEN SELECT CASE WHEN x > 0 THEN 'mid' END AS v;"
        " ELSE SELECT 'hi' AS v; END CASE"
    )
    w.execute()
    assert w.result.first()["v"] == "mid"

    w = run(
        "DECLARE n INT64 DEFAULT 0; "
        "outer_l: WHILE TRUE DO"
        "  inner_l: WHILE TRUE DO SET n = n + 1; BREAK outer_l; END WHILE;"
        "  SET n = n + 100; "
        "END WHILE; SELECT n AS v"
    )
    w.execute()
    assert w.result.first()["v"] == 1
    with pytest.raises(WorkerException, match="outside a loop"):
        run("WHILE TRUE DO BREAK nolabel; END WHILE").execute()

    w = run(
        "CREATE TEMP TABLE tt_scr AS SELECT 1 AS k UNION ALL SELECT 2;"
        " SELECT COUNT(*) AS n FROM tt_scr"
    )
    w.execute()
    assert w.result.first()["n"] == 2
    with pytest.raises(WorkerException, match="AS query"):
        run("CREATE TEMP TABLE tt_schema (x INT64)").execute()

    _seed_table(ctx, "p.d.meta_t", [(1,)], "id long")
    w = run(
        "ALTER TABLE `p.d.meta_t` SET OPTIONS(description='x',"
        " labels=[('a','b')]); GRANT `roles/viewer` ON TABLE"
        " `p.d.meta_t` TO 'user:a@b.c'; SELECT 1 AS ok"
    )
    w.execute()
    assert w.result.first()["ok"] == 1
    # round 8: catalog tables STORE their options (TABLE_OPTIONS plane)
    assert any("table options on p.d.meta_t" in line for line in w.log)
    assert ctx.catalog.table_options("p.d.meta_t")["description"] == "x"
    assert any("no IAM plane" in line for line in w.log)


def test_information_schema_views(ctx):
    """INFORMATION_SCHEMA.VIEWS serves recorded CREATE VIEW definitions;
    .TABLES lists views with table_type='VIEW' (BigQuery contract)."""
    run = lambda s: find_worker("SparkSQLExecutor")(  # noqa: E731
        {"script": s, "dry_run": False}, ctx
    )
    _seed_table(ctx, "p.d.isv_base", [(1,)], "id long")
    w = run(
        "CREATE OR REPLACE VIEW `p.d.isv_v` AS"
        " SELECT id FROM `p.d.isv_base` WHERE id > 0;"
        " SELECT table_name, view_definition"
        " FROM `p.d.INFORMATION_SCHEMA.VIEWS`"
    )
    w.execute()
    rows = {r["table_name"]: r["view_definition"] for r in w.result.collect()}
    assert "isv_v" in rows and "WHERE id > 0" in rows["isv_v"]
    w2 = run(
        "SELECT table_name, table_type FROM `p.d.INFORMATION_SCHEMA.TABLES`"
    )
    w2.execute()
    types = {r["table_name"]: r["table_type"] for r in w2.result.collect()}
    assert types.get("isv_v") == "VIEW"
    assert types.get("isv_base") == "BASE TABLE"


def test_create_persistent_scalar_function(spark, tmp_path):
    """Persistent (non-TEMP) CREATE FUNCTION: dataset-qualified scalar
    UDFs persist in the catalog, expand inline at call sites (with a
    RETURNS cast when declared), may call each other, translate
    LANGUAGE js bodies through the subset compiler, list in
    INFORMATION_SCHEMA.ROUTINES, and DROP FUNCTION removes them.
    Comment-laden bodies (trailing --, unbalanced paren inside a
    comment) parse correctly (round-11 probe)."""
    import pytest as _pytest

    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext, WorkerException

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))

    def run(script):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    run(
        "CREATE OR REPLACE FUNCTION p.d.addone(v INT64) AS (\n"
        "  -- adds one (the usual\n"
        "  v + 1 -- trailing note\n"
        ");"
    )
    assert run("SELECT p.d.addone(4) AS r").result.collect()[0]["r"] == 5
    assert run("SELECT `p.d.addone`(9) AS r").result.collect()[0]["r"] == 10
    # RETURNS coerces the body result
    run("CREATE FUNCTION p.d.half(v INT64) RETURNS FLOAT64 AS (v / 2);")
    r = run("SELECT p.d.half(5) AS r").result.collect()[0]["r"]
    assert r == 2.5 and isinstance(r, float)
    # persistent functions may call other persistent functions
    run(
        "CREATE FUNCTION p.d.labeled(v INT64) AS"
        " (CONCAT('v=', CAST(p.d.addone(v) AS STRING)));"
    )
    assert (
        run("SELECT p.d.labeled(7) AS r").result.collect()[0]["r"] == "v=8"
    )
    # LANGUAGE js bodies go through the JS subset compiler at DDL time
    run(
        "CREATE OR REPLACE FUNCTION p.d.jsq(x FLOAT64) RETURNS FLOAT64"
        " LANGUAGE js AS '''\n  return x * x;\n''';"
    )
    assert run("SELECT p.d.jsq(3.0) AS r").result.collect()[0]["r"] == 9.0
    # plain CREATE on an existing name is loud; IF NOT EXISTS skips
    with _pytest.raises(WorkerException, match="already exists"):
        run("CREATE FUNCTION p.d.addone(v INT64) AS (v + 2);")
    run("CREATE FUNCTION IF NOT EXISTS p.d.addone(v INT64) AS (v + 2);")
    assert run("SELECT p.d.addone(1) AS r").result.collect()[0]["r"] == 2
    # session-scoped functions must use CREATE TEMP FUNCTION
    with _pytest.raises(WorkerException, match="dataset-qualified"):
        run("CREATE FUNCTION nodot(v INT64) AS (v);")
    # metadata plane
    w = run(
        "SELECT routine_name, routine_type FROM"
        " `p.d.INFORMATION_SCHEMA.ROUTINES` ORDER BY routine_name"
    )
    names = {(r["routine_name"], r["routine_type"]) for r in w.result.collect()}
    assert ("addone", "FUNCTION") in names and ("jsq", "FUNCTION") in names
    # DROP
    run("DROP FUNCTION p.d.labeled")
    run("DROP FUNCTION IF EXISTS p.d.labeled")
    with _pytest.raises(WorkerException, match="unknown"):
        run("DROP FUNCTION p.d.labeled")


def test_tvf_and_udf_bodies_with_comments(spark, tmp_path):
    """Balance scans are comment-aware: TVF/TEMP-UDF bodies containing
    an unbalanced paren inside a comment, or ending in a line comment,
    parse and expand correctly (round-11 probe: both previously failed
    with parse errors)."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))

    def run(script):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    run(
        "CREATE TABLE FUNCTION p.d.f(lo INT64) AS (\n"
        "  -- note: range (inclusive\n"
        "  SELECT x FROM UNNEST([1,2,3]) AS x\n"
        "  WHERE x >= lo -- keep big ones\n"
        ");"
    )
    w = run("SELECT * FROM p.d.f(2) ORDER BY x")
    assert [r["x"] for r in w.result.collect()] == [2, 3]
    w = run(
        "CREATE TEMP FUNCTION f2(v INT64) AS (\n"
        "  -- add one (inclusive\n"
        "  v + 1);"
        "SELECT f2(4) AS r"
    )
    assert w.result.collect()[0]["r"] == 5


def test_script_repeat_until(spark, tmp_path):
    """BigQuery REPEAT ... UNTIL cond END REPEAT (round 11): the body
    runs at least once, the condition tests AFTER each pass, ITERATE
    jumps to the UNTIL test, BREAK honors labels, nesting works, and
    the scalar REPEAT() function is untouched."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))

    def run(script):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    w = run(
        "DECLARE i INT64 DEFAULT 0;\nREPEAT\n SET i = i + 1;\n"
        "UNTIL i >= 3\nEND REPEAT;\nSELECT i AS n"
    )
    assert w.result.collect()[0]["n"] == 3
    # at-least-once semantics
    w = run(
        "DECLARE i INT64 DEFAULT 99;\nREPEAT\n SET i = i + 1;\n"
        "UNTIL i >= 3\nEND REPEAT;\nSELECT i AS n"
    )
    assert w.result.collect()[0]["n"] == 100
    # ITERATE -> UNTIL test, labeled BREAK, scalar REPEAT() in body
    w = run(
        """
        DECLARE i INT64 DEFAULT 0;
        DECLARE acc STRING DEFAULT '';
        lbl: REPEAT
          SET i = i + 1;
          IF i = 2 THEN ITERATE; END IF;
          IF i >= 5 THEN BREAK lbl; END IF;
          SET acc = CONCAT(acc, REPEAT('x', 1));
        UNTIL i >= 10
        END REPEAT;
        SELECT i AS n, acc AS a
        """
    )
    r = w.result.collect()[0]
    assert (r["n"], r["a"]) == (5, "xxx")
    # nested REPEAT with a trailing comment on the opener
    w = run(
        """
        DECLARE t INT64 DEFAULT 0;
        DECLARE o INT64 DEFAULT 0;
        REPEAT  -- outer (note
          SET o = o + 1;
          REPEAT
            SET t = t + 1;
          UNTIL MOD(t, 3) = 0
          END REPEAT;
        UNTIL o >= 2
        END REPEAT;
        SELECT o AS o, t AS t
        """
    )
    assert tuple(w.result.collect()[0]) == (2, 6)


def test_script_variable_substitution_position_guards(spark, tmp_path):
    """Variable names are NOT references in alias position (``AS o``),
    qualified columns (``x.o``), or label positions (round-11 probe:
    the blind textual replace corrupted all three)."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))

    def run(script):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    w = run(
        "DECLARE o INT64 DEFAULT 77;"
        "CREATE OR REPLACE TABLE `p.s.tt` AS SELECT 5 AS o;"
        "SELECT x.o AS col, o AS var FROM `p.s.tt` x"
    )
    r = w.result.collect()[0]
    assert (r["col"], r["var"]) == (5, 77)
    assert w.result.columns == ["col", "var"]
    # a loop whose label collides with a variable name still runs
    w = run(
        "DECLARE v INT64 DEFAULT 0;"
        "v: LOOP SET v = v + 1; IF v >= 2 THEN BREAK v; END IF;"
        " END LOOP;"
        "SELECT v AS n"
    )
    assert w.result.collect()[0]["n"] == 2


def test_script_for_in_over_unnest_and_labels(spark, tmp_path):
    """FOR's mandatory parens must come off before transpile: a
    parenthesized ``(SELECT … FROM UNNEST(…))`` otherwise reads as an
    expression-position scalar subquery and the loop query compiles to
    a bare scalar (round-11 probe). Labeled FOR with CONTINUE/BREAK
    label rides the same block-lexer label fix."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))

    def run(script):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    w = run(
        """
        DECLARE total INT64 DEFAULT 0;
        outer_l: FOR r IN (SELECT x FROM UNNEST([1,2,3,4]) AS x) DO
          IF r.x = 3 THEN CONTINUE outer_l; END IF;
          IF r.x = 4 THEN BREAK outer_l; END IF;
          SET total = total + r.x;
        END FOR;
        SELECT total AS n
        """
    )
    assert w.result.collect()[0]["n"] == 3
    w = run(
        "DECLARE t INT64 DEFAULT 0;"
        "FOR r IN (SELECT x FROM UNNEST([5,6]) AS x) DO"
        " SET t = t + r.x; END FOR;"
        "SELECT t AS n"
    )
    assert w.result.collect()[0]["n"] == 11


def test_trailing_comments_survive_expression_wraps(spark, tmp_path):
    """Expressions the executor wraps in parentheses (ASSERT bodies,
    RAISE messages, SET @@time_zone, CALL args, TVF args, enforced
    partition predicates) may end in a line comment; the injected
    closing paren lands on a fresh line so the comment can't swallow
    it (round-11 review wave)."""
    import pytest as _pytest

    from crmint_spark.catalog import Catalog
    from crmint_spark.workers import find_worker
    from crmint_spark.workers.base import WorkerContext, WorkerException

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))

    def run(script):
        w = find_worker("BQScriptExecutor")(
            {"script": script, "dry_run": False}, ctx
        )
        w.execute()
        return w

    run("ASSERT 1 = 1 -- always true\n")
    with _pytest.raises(WorkerException, match="boom"):
        run("RAISE USING MESSAGE = 'boom' -- note\n")
    run("SET @@time_zone = '+02:00' -- zone\n;SELECT 1")
    run(
        "CREATE OR REPLACE TABLE `p.sw.t` (d DATE, v INT64)"
        " PARTITION BY d OPTIONS (require_partition_filter = true);"
        "INSERT INTO `p.sw.t` VALUES (DATE '2024-01-01', 1),"
        " (DATE '2024-02-01', 2);"
    )
    w = run(
        "SELECT SUM(v) AS s FROM `p.sw.t`"
        " WHERE d = DATE '2024-01-01' -- pruned\n GROUP BY d"
    )
    assert w.result.collect()[0]["s"] == 1
    run(
        "CREATE OR REPLACE TABLE FUNCTION p.sw.f(lo INT64) AS"
        " (SELECT x FROM UNNEST([1,2,3]) x WHERE x >= lo);"
    )
    w = run("SELECT COUNT(*) AS n FROM p.sw.f(2 -- inline\n)")
    assert w.result.collect()[0]["n"] == 2
    run(
        "CREATE OR REPLACE PROCEDURE p.sw.echo(IN v INT64, OUT r INT64)"
        " BEGIN SET r = v + 1; END;"
    )
    w = run(
        "DECLARE got INT64;"
        "CALL p.sw.echo(41 -- the answer, minus one\n, got);"
        "SELECT got AS g"
    )
    assert w.result.collect()[0]["g"] == 42
