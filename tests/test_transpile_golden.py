"""Golden snapshot of the BigQuery -> Spark SQL transpiler.

Pins the full output of ``split_script`` + ``transpile_statement`` over
every module-level SQL string of the registered query modules and the
benchmark's BigQuery scripts, plus ``ScriptContext.substitute`` over
those scripts. Any change to lexing or a rewrite pass that moves one
byte of output shows up here as a per-entry diff.

Regenerate (only when an output change is intended and reviewed):

    PYTHONPATH=. python3 tests/test_transpile_golden.py
"""

from __future__ import annotations

import difflib
import importlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from crmint_spark.dialect import (  # noqa: E402
    ScriptContext,
    split_script,
    transpile_statement,
)

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "transpile_golden.json")

MODULES = ("queries", "queries_bqml", "queries_extended", "queries_dml")
SCRIPTS = ("setup.sql", "profile.sql", "engagement.sql", "segments.sql")

#: one value per variable the benchmark scripts DECLARE, plus names that
#: only appear as columns — substitution must leave columns alone where
#: the engine can tell them apart
VARIABLES = {
    "run_day": 17,
    "day_order_count": 150,
    "n_new": 3,
    "day_session_count": 400,
    "i": 2,
    "region_name": "eu",
    "n_jobs": 5,
    "n_orders": 7,
    "n_sessions": 9,
    "tier": "gold",
}


def _transpile(text: str) -> list[str]:
    out = []
    for stmt in split_script(text):
        try:
            out.append(transpile_statement(stmt))
        except Exception as e:  # an error message is output too
            out.append(f"ERROR {type(e).__name__}: {e}")
    return out


def _scripts() -> dict[str, str]:
    d = os.path.join(ROOT, "perfbench", "sql")
    out = {}
    for name in SCRIPTS:
        with open(os.path.join(d, name), encoding="utf-8") as f:
            out[name] = f.read().replace("{{ day }}", "17")
    return out


def snapshot() -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for mod_name in MODULES:
        mod = importlib.import_module(f"crmint_spark.{mod_name}")
        for name, value in vars(mod).items():
            if isinstance(value, str) and not name.startswith("__"):
                out[f"transpile:{mod_name}.{name}"] = _transpile(value)
    ctx = ScriptContext(
        variables=dict(VARIABLES),
        row_count=12,
        system={"last_job_id": "job_0042", "time_zone": "UTC"},
    )
    for name, text in _scripts().items():
        stmts = split_script(text)
        out[f"transpile:perfbench/sql/{name}"] = _transpile(text)
        out[f"substitute:perfbench/sql/{name}"] = [ctx.substitute(s) for s in stmts]
    return out


@pytest.fixture(scope="module")
def current() -> dict[str, list[str]]:
    return snapshot()


def _golden() -> dict[str, list[str]]:
    with open(GOLDEN, encoding="utf-8") as f:
        return json.load(f)


WANT = _golden() if os.path.exists(GOLDEN) else {}


def test_golden_covers_the_same_entries(current):
    assert sorted(current) == sorted(WANT)


@pytest.mark.parametrize("key", sorted(WANT))
def test_transpile_output_matches_golden(current, key):
    want = WANT[key]
    got = current.get(key)
    assert got is not None, f"{key} is no longer produced"
    if got != want:
        diff = difflib.unified_diff(
            "\n\n".join(want).splitlines(),
            "\n\n".join(got).splitlines(),
            "golden",
            "current",
            lineterm="",
        )
        pytest.fail(f"{key} changed:\n" + "\n".join(diff))


if __name__ == "__main__":
    with open(GOLDEN, "w", encoding="utf-8") as f:
        json.dump(snapshot(), f, indent=1, sort_keys=True, ensure_ascii=False)
        f.write("\n")
    print(f"wrote {GOLDEN}")
