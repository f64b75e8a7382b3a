"""The shared BigQuery lexer (``crmint_spark.sqllex``) and the scans
that used to carry their own copy of the quoting rule. The last three
tests reproduce wrong answers those copies gave: each one treated a
backslash-escaped quote or a backtick identifier differently."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crmint_spark import sqllex  # noqa: E402
from crmint_spark.dialect import extract_with_clause, split_script  # noqa: E402
from crmint_spark.workers.sql_executor import (  # noqa: E402
    SparkSQLExecutor,
    _extract_options_kv,
)

SQL = (
    "SELECT f(a, 'x)y', `b)c`) -- it's (\n"
    "/*+ BROADCAST(t) */ FROM t WHERE s = 'a\\'b' # (\n"
    "AND u = '''tri ' ple''' AND v = \"d)q\""
)


def test_token_kinds():
    kinds = [(m.lastgroup, m.group()) for m in sqllex.TOKEN_RE.finditer(SQL)]
    assert kinds == [
        ("string", "'x)y'"),
        ("ident", "`b)c`"),
        ("comment", "-- it's (\n"),
        ("hint", "/*+ BROADCAST(t) */"),
        ("string", "'a\\'b'"),
        ("comment", "# (\n"),
        ("string", "'''tri ' ple'''"),
        ("string", '"d)q"'),
    ]


def test_unterminated_token_runs_to_the_end():
    assert sqllex.mask("SELECT 'abc") == "SELECT     "
    assert sqllex.mask("SELECT 1 /* open") == "SELECT 1        "


def test_mask_keeps_offsets_and_newlines():
    masked = sqllex.mask(SQL)
    assert len(masked) == len(SQL)
    assert masked.count("\n") == SQL.count("\n")
    assert "'" not in masked and "`" not in masked and "BROADCAST" not in masked
    hints_kept = sqllex.mask(SQL, ("comment",))
    assert "/*+ BROADCAST(t) */" in hints_kept and "it's" not in hints_kept


def test_segments_fold_comments_into_code():
    segs = sqllex.segments("a -- don't\n'x' `y` z")
    assert segs == [("a -- don't\n", "'x'"), (" ", "`y`"), (" z", "")]
    assert sqllex.segments("a `y` b", ("string",)) == [("a `y` b", "")]


def test_balanced_end_split_and_find_skip_tokens():
    open_idx = SQL.index("(")
    assert SQL[: sqllex.balanced_end(SQL, open_idx)].endswith("`b)c`)")
    assert sqllex.balanced_end("f(a", 1) == -1
    assert sqllex.split_top_level("a, 'b,c', [1, 2], f(x, y)") == [
        "a", " 'b,c'", " [1, 2]", " f(x, y)"
    ]
    import re

    m = sqllex.find_top_level(
        "SELECT (SELECT 1 FROM a) 'FROM' FROM b", re.compile(r"\bFROM\b")
    )
    assert m.start() == 32


def test_iter_calls_skips_literals_and_nested_arguments():
    sql = "SELECT f(f(1)), 'f(2)', g(3) /* f(4) */"
    calls = [(s, e, n) for s, _o, e, n in sqllex.iter_calls(sql, ("f", "g"))]
    assert calls == [(7, 14, "f"), (24, 28, "g")]


def test_split_script_on_escaped_quote():
    assert split_script("SELECT 'a\\';b'; SELECT 2") == ["SELECT 'a\\';b'", "SELECT 2"]


# -- drift bugs the shared lexer fixes ---------------------------------------


def test_extract_with_clause_skips_escaped_quote_and_backtick():
    sql = r"WITH a AS (SELECT 'it\'s)' AS x), b AS (SELECT 1) SELECT * FROM a"
    assert extract_with_clause(sql) == (
        r"WITH a AS (SELECT 'it\'s)' AS x), b AS (SELECT 1)"
    )
    sql = "WITH a AS (SELECT 1 AS `we)ird`), b AS (SELECT 2) SELECT * FROM a"
    assert extract_with_clause(sql) == (
        "WITH a AS (SELECT 1 AS `we)ird`), b AS (SELECT 2)"
    )


def test_options_split_skips_escaped_quote():
    opts = _extract_options_kv(
        "CREATE TABLE t (x INT64) OPTIONS("
        r"description = 'a\'b, c', labels = [('k','v')])"
    )
    assert opts == {"description": "a'b, c", "labels": "[('k','v')]"}


def test_model_options_skip_escaped_quote():
    # the CREATE MODEL OPTIONS parser read 'it\' as the description and
    # MAX_ITERATIONS = 50 from inside the string
    from crmint_spark.ml.sql_ml import _parse_options

    opts = _parse_options(
        r"model_type='logistic_reg', description='it\'s max_iterations = 50',"
        " input_label_cols=['y'], uris=array('a,b', 'c'),"
        " l1_reg=HPARAM_RANGE(0.001, 0.1), max_iterations=7"
    )
    assert opts == {
        "MODEL_TYPE": "logistic_reg",
        "DESCRIPTION": "it's max_iterations = 50",
        "INPUT_LABEL_COLS": ["y"],
        "URIS": ["a,b", "c"],
        "L1_REG": "HPARAM_RANGE(0.001, 0.1)",
        "MAX_ITERATIONS": 7,
    }


def test_string_value_reads_one_literal():
    assert sqllex.string_value(r"'it\'s'") == "it's"
    assert sqllex.string_value('"""a "b" c"""') == 'a "b" c'
    assert sqllex.string_value('"x"') == "x"
    for text in ("'a' || 'b'", "'open", "abc", "`t`"):
        assert sqllex.string_value(text) is None


def test_pruned_dml_sees_rand_after_escaped_quote():
    # the masked predicate must still show RAND(): a pruned two-pass DML
    # with a non-deterministic predicate would see different row sets
    pred = r"note = 'it\'s' AND RAND() < 0.5 AND region = 'eu'"
    assert SparkSQLExecutor._freeze_now_fns(None, pred) is None
