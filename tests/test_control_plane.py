"""Control-plane tests modeled on the reference's test strategy
(SURVEY §5): DAG state machine, templating/inline functions, cron
subset, schema parser, dialect rewrites."""

from __future__ import annotations

import os
import sys
from datetime import datetime

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crmint_spark import cron, dialect, schema, templating  # noqa: E402
from crmint_spark.catalog import Catalog  # noqa: E402
from crmint_spark.pipeline import (  # noqa: E402
    JobSpec,
    Pipeline,
    PipelineRunner,
    StartCondition,
    Status,
)
from crmint_spark.workers.base import WorkerContext  # noqa: E402


# -- templating -------------------------------------------------------------


def test_legacy_syntax_upgrade():
    assert templating.upgrade_legacy_syntax("{% VAR %}") == "{{ VAR }}"
    assert templating.upgrade_legacy_syntax("x %(foo) y") == "x {{ foo }} y"


def test_render_layering_and_inline():
    fns = templating.InlineFunctions(now=datetime(2024, 3, 15, 12, 0, 0))
    ctx = templating.layer_contexts({"a": "g", "b": "g"}, {"b": "p"}, {"c": "j"})
    assert ctx == {"a": "g", "b": "p", "c": "j"}
    assert templating.render("{{ a }}-{{ b }}", ctx, fns) == "g-p"
    assert templating.render("{{ today('%Y%m%d') }}", {}, fns) == "20240315"
    assert templating.render("{{ days_ago(14, '%Y-%m-%d') }}", {}, fns) == "2024-03-01"
    assert templating.render("{{ days_since('2024-03-10') }}", {}, fns) == "5"


def test_render_strict_undefined():
    with pytest.raises(Exception):
        templating.render("{{ missing }}", {})


def test_worker_value_types():
    assert templating.worker_value("boolean", "1") is True
    assert templating.worker_value("boolean", "0") is False
    assert templating.worker_value("number", "42") == 42
    assert templating.worker_value("number", "4.5") == 4.5
    assert templating.worker_value("string_list", "a\nb\n") == ["a", "b"]
    assert templating.worker_value("number_list", "1\n2.5") == [1, 2.5]
    assert templating.worker_value("sql", "SELECT 1") == "SELECT 1"


# -- schema -----------------------------------------------------------------


def test_schema_parser_nested_repeated():
    st = schema.parse_schema(
        [
            {"name": "id", "type": "INT64", "mode": "REQUIRED"},
            {"name": "tag"},  # defaults: STRING NULLABLE
            {
                "name": "params",
                "type": "RECORD",
                "mode": "REPEATED",
                "fields": [
                    {"name": "key", "type": "STRING"},
                    {
                        "name": "value",
                        "type": "RECORD",
                        "fields": [
                            {"name": "int_value", "type": "INT64"},
                            {"name": "string_value"},
                        ],
                    },
                ],
            },
        ]
    )
    assert st["id"].dataType.typeName() == "long"
    assert not st["id"].nullable
    assert st["tag"].dataType.typeName() == "string"
    assert st["params"].dataType.typeName() == "array"
    inner = st["params"].dataType.elementType
    assert inner["value"].dataType["int_value"].dataType.typeName() == "long"


def test_format_bytes():
    assert schema.format_bytes(512) == "512.00 B"
    assert schema.format_bytes(2048) == "2.00 KB"


# -- dialect ----------------------------------------------------------------


def test_split_script_respects_strings_and_comments():
    script = """
    SELECT 'a;b' AS x; -- trailing; comment
    /* multi;
       line */ SELECT 2;
    """
    stmts = dialect.split_script(script)
    assert len(stmts) == 2
    assert "a;b" in stmts[0]


def test_transpile_rewrites():
    assert (
        dialect.transpile_statement("FARM_FINGERPRINT(CONCAT(id, '-x'))")
        == "CAST(CONV(SUBSTR(MD5(CAST(CONCAT(id, '-x') AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    assert (
        dialect.transpile_statement("CAST(d AS DATE FORMAT 'YYYYMMDD')")
        == "to_date(d, 'yyyyMMdd')"
    )
    assert dialect.transpile_statement("arr[OFFSET(1)]") == "arr[1]"
    assert dialect.transpile_statement("arr[ORDINAL(1)]") == "arr[0]"
    assert (
        dialect.transpile_statement("FORMAT_DATE('%Y%m%d', d)")
        == "date_format(d, 'yyyyMMdd')"
    )
    assert dialect.transpile_statement("REGEXP_CONTAINS(x, 'p')") == "regexp_like(x, 'p')"
    assert "proj__ds__tbl" in dialect.transpile_statement("SELECT * FROM `proj.ds.tbl`")


def test_transpile_temp_function_and_view():
    # scripts may create SQL UDFs (ref: bq_script_executor.py:26-36)
    out = dialect.transpile_statement(
        "CREATE TEMP FUNCTION ratio(a INT64, b INT64) AS (SAFE_DIVIDE(a, b))"
    )
    assert out == (
        "CREATE OR REPLACE TEMPORARY FUNCTION ratio(a BIGINT, b BIGINT)"
        " RETURN try_divide(a, b)"
    )
    out = dialect.transpile_statement(
        "CREATE OR REPLACE TEMP FUNCTION `p.d.f`(x FLOAT64) RETURNS NUMERIC AS (x * 2)"
    )
    assert out.startswith(
        "CREATE OR REPLACE TEMPORARY FUNCTION p__d__f(x DOUBLE)"
        " RETURNS DECIMAL(38, 9) RETURN"
    )
    import pytest as _pytest

    # simple single-return JS bodies are translated to SQL UDFs
    out = dialect.transpile_statement(
        'CREATE TEMP FUNCTION j(x INT64) RETURNS INT64 LANGUAGE js AS "return x"'
    )
    assert out == (
        "CREATE OR REPLACE TEMPORARY FUNCTION j(x BIGINT)"
        " RETURNS BIGINT RETURN x"
    )
    # bodies beyond the subset raise a targeted error naming the
    # construct and the SQL-UDF alternative
    with _pytest.raises(ValueError, match="SQL-expression UDF"):
        dialect.transpile_statement(
            "CREATE TEMP FUNCTION j(x INT64) RETURNS INT64 LANGUAGE js AS "
            '"for (var i = 0; i < x; i++) {} return i"'
        )
    out = dialect.transpile_statement(
        "CREATE OR REPLACE VIEW `p.d.v` AS SELECT 1 AS a"
    )
    assert out == "CREATE OR REPLACE TEMPORARY VIEW p__d__v AS SELECT 1 AS a"


def test_declare_set_classification():
    kind, m = dialect.classify_statement("DECLARE x INT64 DEFAULT 5")
    assert kind == "declare" and m.group(1) == "x" and m.group(2) == "5"
    kind, m = dialect.classify_statement("DECLARE x DEFAULT 5")
    assert kind == "declare" and m.group(1) == "x" and m.group(2) == "5"
    kind, m = dialect.classify_statement("DECLARE a, b INT64 DEFAULT 1")
    assert kind == "declare" and m.group(1) == "a, b" and m.group(2) == "1"
    kind, m = dialect.classify_statement("DECLARE s STRUCT<a INT64, b STRING>")
    assert kind == "declare" and m.group(1) == "s" and m.group(2) is None
    kind, m = dialect.classify_statement("SET x = (SELECT MAX(a) FROM t)")
    assert kind == "set"
    assert dialect.classify_statement("SELECT 1")[0] == "sql"


def test_format_timestamp_strftime_mapping():
    # the reference's conversionDateTime format "%F %T%Ez"
    # (ref: bq_to_ads_offline_click_conversion template) must map fully
    out = dialect.transpile_statement("FORMAT_TIMESTAMP('%F %T%Ez', ts)")
    assert out == "date_format(ts, 'yyyy-MM-dd HH:mm:ssXXX')"
    out2 = dialect.transpile_statement("FORMAT_DATE('%Y-%m-%d', d)")
    assert out2 == "date_format(d, 'yyyy-MM-dd')"


def test_inline_hours_ago_and_legacy_combo():
    from datetime import datetime

    fns = templating.InlineFunctions(now=datetime(2024, 3, 15, 12, 0, 0))
    assert (
        templating.render("{{ hours_ago(36, '%Y-%m-%d %H') }}", {}, fns)
        == "2024-03-14 00"
    )
    # legacy var syntax + inline function in the same template
    out = templating.render("%(tbl)_{{ today('%Y%m%d') }}", {"tbl": "events"}, fns)
    assert out == "events_20240315"


# -- cron -------------------------------------------------------------------


def test_cron_dow_dom_and_semantics():
    # the reference ANDs all five fields (cron_utils.py:65-72), unlike
    # vixie cron's dom/dow OR; 2024-01-01 is a Monday (dow=1)
    assert cron.cron_matches("0 0 1 * 1", datetime(2024, 1, 1, 0, 0))  # both hit
    assert not cron.cron_matches("0 0 15 * 1", datetime(2024, 1, 1, 0, 0))  # dom miss
    assert not cron.cron_matches("0 0 1 * 3", datetime(2024, 1, 1, 0, 0))  # dow miss
    assert not cron.cron_matches("0 0 15 * 3", datetime(2024, 1, 1, 0, 0))
    # sunday is 0
    assert cron.cron_matches("0 0 * * 0", datetime(2024, 1, 7, 0, 0))


def test_cron_subset_semantics():
    assert cron.cron_matches("* * * * *", datetime(2024, 1, 1, 0, 0))
    assert cron.cron_matches("0 0 6 4,7,10,1 *", datetime(2024, 4, 6, 0, 0))
    assert not cron.cron_matches("0 0 6 4,7,10,1 *", datetime(2024, 5, 6, 0, 0))
    with pytest.raises(cron.CronValidationError):
        cron.parse_cron("*/5 * * * *")
    with pytest.raises(cron.CronValidationError):
        cron.parse_cron("1-5 * * * *")
    assert cron.due_pipelines({"p": ["30 2 * * *"]}, datetime(2024, 1, 1, 2, 30)) == ["p"]


# -- DAG runner -------------------------------------------------------------


@pytest.fixture()
def runner(spark, tmp_path):
    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))
    return PipelineRunner(ctx)


def _commenter(name, success=True, preceding=None, condition="success"):
    return JobSpec(
        name=name,
        worker_class="Commenter",
        params=[
            {"name": "comment", "type": "text", "value": f"job {name}"},
            {"name": "success", "type": "boolean", "value": "1" if success else "0"},
        ],
        start_conditions=(
            [StartCondition(preceding_job=preceding, condition=condition)]
            if preceding
            else []
        ),
    )


def test_dag_linear_success(runner):
    p = Pipeline("lin", [_commenter("a"), _commenter("b", preceding="a")])
    runs = runner.run(p)
    assert runs["a"].status == Status.SUCCEEDED
    assert runs["b"].status == Status.SUCCEEDED
    assert PipelineRunner.pipeline_status(runs) == Status.SUCCEEDED


def test_dag_failure_propagation(runner):
    p = Pipeline(
        "fail",
        [
            _commenter("a", success=False),
            _commenter("b", preceding="a", condition="success"),
        ],
    )
    runs = runner.run(p)
    assert runs["a"].status == Status.FAILED
    assert runs["b"].status == Status.FAILED  # not run, precondition unmet
    assert PipelineRunner.pipeline_status(runs) == Status.FAILED


def test_dag_fail_condition_runs_on_failure(runner):
    p = Pipeline(
        "onfail",
        [
            _commenter("a", success=False),
            _commenter("cleanup", preceding="a", condition="fail"),
            _commenter("next", preceding="a", condition="whatever"),
        ],
    )
    runs = runner.run(p)
    assert runs["cleanup"].status == Status.SUCCEEDED
    assert runs["next"].status == Status.SUCCEEDED


def test_dag_fail_condition_skips_on_success(runner):
    p = Pipeline(
        "onfail2",
        [
            _commenter("a", success=True),
            _commenter("cleanup", preceding="a", condition="fail"),
        ],
    )
    runs = runner.run(p)
    assert runs["cleanup"].status == Status.FAILED
    assert runs["cleanup"].error == "start condition not fulfilled"


def test_dag_diamond_parallel(runner):
    p = Pipeline(
        "diamond",
        [
            _commenter("a"),
            _commenter("b1", preceding="a"),
            _commenter("b2", preceding="a"),
            JobSpec(
                name="c",
                worker_class="Commenter",
                params=[{"name": "comment", "type": "text", "value": "c"}],
                start_conditions=[
                    StartCondition("b1", "success"),
                    StartCondition("b2", "success"),
                ],
            ),
        ],
    )
    runs = runner.run(p)
    assert all(r.status == Status.SUCCEEDED for r in runs.values())


def test_pipeline_json_roundtrip(runner):
    data = {
        "name": "imported",
        "params": [{"name": "who", "value": "world"}],
        "jobs": [
            {
                "id": 11,
                "name": "hello",
                "worker_class": "Commenter",
                "params": [
                    {"name": "comment", "type": "text", "value": "hi {{ who }}"}
                ],
                "hash_start_conditions": [],
            },
            {
                "id": 12,
                "name": "after",
                "worker_class": "Commenter",
                "params": [],
                "hash_start_conditions": [
                    {"preceding_job_id": 11, "condition": "success"}
                ],
            },
        ],
    }
    p = Pipeline.from_json(data)
    assert p.jobs["after"].start_conditions[0].preceding_job == "hello"
    runs = runner.run(p)
    assert runs["hello"].log == ["hi world"]
    out = p.to_json()
    p2 = Pipeline.from_json(out)
    assert set(p2.jobs) == {"hello", "after"}
