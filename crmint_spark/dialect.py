"""BigQuery -> Spark SQL dialect rewriting + multi-statement script
handling.

The reference pipes SQL scripts verbatim into BigQuery
(ref: backend/jobs/workers/bigquery/bq_script_executor.py:57-74). Spark
SQL covers nearly all of that surface; this module closes the gaps the
reference's generated SQL actually uses (SURVEY §2.2 / §4):

- script splitting on top-level ``;`` (string/comment aware),
- ``DECLARE``/``SET`` scripting variables -> driver-side scalar eval
  substituted into later statements (ref: output.sql:2-7),
- ``SELECT * EXCEPT(a, b)`` -> explicit select list,
- ``FARM_FINGERPRINT(x)`` -> portable 60-bit md5-prefix hash (matches
  DuckDB's ``('0x'||substr(md5(x),1,15))::BIGINT`` exactly, so hash
  splits reproduce cross-engine; not bit-identical to BigQuery's
  FarmHash, which has no Spark/DuckDB twin),
- ``CAST(x AS DATE FORMAT 'YYYYMMDD')`` -> ``to_date(x, 'yyyyMMdd')``,
- ``arr[OFFSET(n)]`` / ``arr[ORDINAL(n)]`` -> 0/1-based element_at,
- ``IFNULL`` -> ``coalesce`` (Spark has ifnull, kept for safety),
- ``REGEXP_CONTAINS(x, p)`` -> ``x RLIKE p``,
- ``FORMAT_DATE/FORMAT_TIMESTAMP`` strftime patterns -> date_format
  patterns (balanced-paren scan, so nested calls like
  ``FORMAT_DATE("%Y%m%d", DATE_SUB(CURRENT_DATE(), INTERVAL 1 DAY))``
  survive; ref: model_bqml.sql:92-94),
- ``TIMESTAMP_MICROS`` -> ``timestamp_micros`` (same name; passthrough),
- ``DATE_SUB/DATE_ADD/DATETIME_SUB/TIMESTAMP_SUB(x, INTERVAL n U)`` ->
  ``(x - INTERVAL n U)`` (Spark's date_sub only takes int days),
- ``DATETIME(x)`` -> ``CAST(x AS TIMESTAMP)`` (ref: model_bqml.sql:277),
- ``CAST(x AS NUMERIC)`` -> ``DECIMAL(38, 9)`` (BigQuery NUMERIC scale;
  Spark's bare NUMERIC is DECIMAL(10,0) which truncates),
- raw strings ``r"pat"`` -> escaped plain strings (ref: output.sql:6),
- ``STRING_AGG([DISTINCT] x[, sep])`` -> ``array_join(collect_*)``
  (ref: controller/ml_model/bigquery.py:95-103),
- lateral ``FROM t, UNNEST(arr) AS a`` -> ``, LATERAL (SELECT
  explode(arr) AS a)`` (ref: model_bqml.sql:166,188; output.sql:74,113),
- correlated scalar ``(SELECT e FROM UNNEST(arr) WHERE c)`` ->
  ``get(transform(filter(arr, ...), ...), 0)`` higher-order expression
  (ref: model_bqml.sql:220-253),
- backtick-quoted ``project.dataset.table`` -> catalog-safe view name;
  wildcard ``project.dataset.events_*`` and
  ``project.dataset.__TABLES_SUMMARY__`` are routed through a resolver
  callback so the executor's catalog can materialize shard-union /
  metadata views (ref: model_bqml.sql:91-94; output.sql:2-7,19).
"""

from __future__ import annotations

import datetime
import re
from dataclasses import dataclass, field
from itertools import starmap

from .sqllex import (
    TOKEN_RE,
    balanced_end,
    find_top_level,
    iter_calls,
    mask,
    segments,
    split_top_level,
    sub_code,
)

_STRFTIME_TO_SPARK = [
    ("%Y", "yyyy"),
    ("%A", "EEEE"),
    ("%a", "EEE"),
    ("%B", "MMMM"),
    ("%b", "MMM"),
    ("%h", "MMM"),
    ("%j", "DDD"),
    ("%e", "d"),
    ("%p", "a"),
    ("%I", "hh"),
    ("%m", "MM"),
    ("%d", "dd"),
    ("%H", "HH"),
    ("%M", "mm"),
    ("%S", "ss"),
    ("%F", "yyyy-MM-dd"),
    ("%T", "HH:mm:ss"),
    ("%Ez", "XXX"),
    ("%z", "Z"),
]

_BQ_DATE_FMT = {"YYYYMMDD": "yyyyMMdd", "YYYY-MM-DD": "yyyy-MM-dd"}


def _fresh_lambda_params(embedded: list[str], *bases: str) -> list[str]:
    """Derive lambda parameter names guaranteed absent — as identifier
    tokens, case-insensitively, since Spark SQL identifiers are
    case-insensitive — from every user expression text that ends up
    INSIDE the generated lambda body. A fixed parameter name shadows a
    same-named user column referenced by the embedded expression and
    silently changes values (round-10/11 verdict: ``SEARCH`` over a
    column literally named ``__sq_tok`` went vacuously TRUE; the
    round-10 rename only moved the collision). Each base is lengthened
    ``base -> base0 -> base1 ...`` until unseen; returned names are
    also pairwise distinct. Only texts placed inside the lambda BODY
    need to be passed — a higher-order function's input argument is
    outside the parameter's scope — but passing extra texts is safe
    (merely more conservative)."""
    text = "\x00".join(embedded)
    taken: set[str] = set()
    out: list[str] = []
    for base in bases:
        name, n = base, 0
        while name.lower() in taken or re.search(
            rf"(?<![A-Za-z0-9_$]){re.escape(name)}(?![A-Za-z0-9_$])",
            text,
            re.IGNORECASE,
        ):
            name = f"{base}{n}"
            n += 1
        taken.add(name.lower())
        out.append(name)
    return out


def strip_leading_comments(s: str) -> str:
    """Drop ``--`` / ``#`` / ``/* */`` comments (and whitespace) from
    the FRONT of a statement. The executor routes statements on their
    head keyword (``^\\s*ASSERT``, ``^\\s*UPDATE``, ...), so a comment
    attached to the statement's first line would silently defeat every
    router — BigQuery treats leading comments as whitespace."""
    while True:
        t = s.lstrip()
        if t.startswith("--") or t.startswith("#"):
            nl = t.find("\n")
            if nl == -1:
                return ""
            s = t[nl + 1 :]
        elif t.startswith("/*"):
            end = t.find("*/")
            if end == -1:
                return t  # unterminated: leave for the parser to report
            s = t[end + 2 :]
        else:
            return t


def split_script(script: str) -> list[str]:
    """Split a SQL script into statements on semicolons in code (the
    shared lexer decides what is a string, identifier or comment).
    Leading comments are stripped from each statement (head-keyword
    routing; pure-comment statements drop); comment TEXT inside a
    statement is preserved verbatim."""
    stmts: list[str] = []
    start = 0
    for m in re.finditer(r";|\Z", mask(script)):
        stmt = strip_leading_comments(script[start : m.start()].strip())
        if stmt:
            stmts.append(stmt)
        start = m.end()
    return _group_block_statements(stmts)


# -- BigQuery procedural blocks (IF / WHILE / LOOP / BEGIN) -----------------
#
# Blocks contain semicolons, so the plain splitter fragments them;
# _group_block_statements re-joins fragments until each block's net
# depth returns to zero. Token rules: IF (not the IF() function), WHILE,
# LOOP, BEGIN (not BEGIN TRANSACTION) open; END IF/WHILE/LOOP/FOR close;
# a bare END closes the innermost CASE expression if one is open, else a
# BEGIN block. FOR..IN blocks execute downstream with a bounded
# iteration count (sql_executor._exec_block's FOR branch).

_BLOCK_TOKEN_RE = re.compile(
    r"\b(END\s+IF|END\s+WHILE|END\s+LOOP|END\s+FOR|END\s+CASE|"
    r"END\s+REPEAT|END|CASE|IF|WHILE|BEGIN|LOOP|FOR|REPEAT)\b",
    re.IGNORECASE,
)
_BLOCK_OPEN_RE = re.compile(
    # optional BigQuery loop label ("lbl: WHILE ... END WHILE lbl")
    r"^\s*(?:[A-Za-z_]\w*\s*:\s*)?(IF|WHILE|LOOP|BEGIN|FOR|CASE|REPEAT)\b",
    re.IGNORECASE,
)


def _at_statement_position(s: str, i: int) -> bool:
    """True when position i begins a STATEMENT (start of fragment,
    after ';', or right after a block keyword) — distinguishes the IF
    procedural block from the IF() scalar function, which only ever
    appears in expression context."""
    j = i - 1
    while j >= 0 and s[j].isspace():
        j -= 1
    if j < 0 or s[j] == ";":
        return True
    if s[j] == ":":
        # BigQuery loop label ("lbl: REPEAT ..."): the label must be a
        # bare identifier reaching back to a statement boundary
        k = j - 1
        while k >= 0 and (s[k].isalnum() or s[k] == "_"):
            k -= 1
        if k < j - 1:
            while k >= 0 and s[k].isspace():
                k -= 1
            if k < 0 or s[k] == ";":
                return True
    head = s[max(0, j - 9): j + 1]
    return bool(
        re.search(r"\b(?:THEN|ELSE|DO|BEGIN|LOOP|REPEAT)$", head, re.IGNORECASE)
    )


def _block_depth_delta(fragment: str) -> int:
    # comments blank first — a block keyword inside a comment must not
    # depth-count, and a comment apostrophe must not misalign strings
    s = mask(fragment)
    depth = 0
    case_depth = 0
    for m in _BLOCK_TOKEN_RE.finditer(s):
        k = re.sub(r"\s+", " ", m.group(1).upper())
        after = s[m.end():].lstrip()
        if k == "CASE":
            # statement-position CASE is the procedural block (closed
            # by END CASE); expression CASE closes with a bare END.
            # case_depth == 0 guard: "THEN CASE" inside an expression
            # CASE is the nested expression form
            if case_depth == 0 and _at_statement_position(s, m.start()):
                depth += 1
            else:
                case_depth += 1
        elif k == "END":
            if case_depth > 0:
                case_depth -= 1
            else:
                depth -= 1
        elif k in (
            "END IF", "END WHILE", "END LOOP", "END FOR", "END CASE",
            "END REPEAT",
        ):
            depth -= 1
        elif k == "IF":
            if case_depth == 0 and _at_statement_position(s, m.start()):
                depth += 1
        elif k == "REPEAT":
            # REPEAT is also a scalar function — only the
            # statement-position keyword opens a block
            if _at_statement_position(s, m.start()):
                depth += 1
        elif k == "BEGIN":
            if not re.match(r"TRANSACTION\b", after, re.IGNORECASE):
                depth += 1
        elif k in ("WHILE", "LOOP"):
            depth += 1
        elif k == "FOR":
            if _at_statement_position(s, m.start()):
                depth += 1
    return depth


_CREATE_PROC_OPEN_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?PROCEDURE\b", re.IGNORECASE
)


def _group_block_statements(stmts: list[str]) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(stmts):
        s = stmts[i]
        if not (_BLOCK_OPEN_RE.match(s) or _CREATE_PROC_OPEN_RE.match(s)):
            out.append(s)
            i += 1
            continue
        depth = _block_depth_delta(s)
        parts = [s]
        while depth > 0 and i + 1 < len(stmts):
            i += 1
            parts.append(stmts[i])
            depth += _block_depth_delta(stmts[i])
        out.append(";\n".join(parts))
        i += 1
    return out


def parse_script_block(stmt: str) -> dict | None:
    """Parse one grouped procedural block -> a structure the executor
    walks, or None if ``stmt`` is not a block:

      {"kind": "IF",    "branches": [(cond, body), ...], "else": body?}
      {"kind": "WHILE", "cond": c, "body": b}
      {"kind": "LOOP",  "body": b}
      {"kind": "REPEAT","cond": c, "body": b}   # cond tested after body
      {"kind": "FOR",   "var": v, "query": q, "body": b}
      {"kind": "BEGIN", "body": b, "handler": b?}

    Bodies are raw sub-scripts (re-split by split_script downstream)."""
    m = _BLOCK_OPEN_RE.match(stmt)
    if not m:
        return None
    kind = m.group(1).upper()
    body_from = m.end()

    def markers(names: tuple[str, ...]) -> list[tuple[int, int, str]]:
        """(start, end, NAME) for marker phrases at block depth 1,
        paren depth 0, outside strings/COMMENTS/CASE, scanning after
        the opener. Comments blank FIRST (round 11): an apostrophe in
        ``IF c -- don't\\nTHEN`` opened a bogus string that swallowed
        THEN, and a keyword inside a comment would depth-count."""
        s = mask(stmt)
        found: list[tuple[int, int, str]] = []
        depth, case_depth, paren = 1, 0, 0
        ws = r"[ \t\r\n]+"
        pats = [
            (re.compile(n.replace(" ", ws) + r"\b", re.IGNORECASE), n)
            for n in names
        ]
        i, n_len = body_from, len(s)
        while i < n_len:
            ch = s[i]
            if ch == "(":
                paren += 1
                i += 1
                continue
            if ch == ")":
                paren -= 1
                i += 1
                continue
            if paren == 0 and re.match(r"[A-Za-z]", ch) and (
                i == 0 or not re.match(r"[\w$]", s[i - 1])
            ):
                if depth == 1 and case_depth == 0:
                    hit = None
                    for pat, name in pats:
                        mm = pat.match(s, i)
                        if mm:
                            hit = (i, mm.end(), name)
                            break
                    if hit:
                        found.append(hit)
                        i = hit[1]
                        continue
                tm = _BLOCK_TOKEN_RE.match(s, i)
                if tm:
                    k = re.sub(r"\s+", " ", tm.group(1).upper())
                    after = s[tm.end():].lstrip()
                    if k == "CASE":
                        if case_depth == 0 and _at_statement_position(s, i):
                            depth += 1
                        else:
                            case_depth += 1
                    elif k == "END":
                        if case_depth > 0:
                            case_depth -= 1
                        else:
                            depth -= 1
                    elif k in (
                        "END IF", "END WHILE", "END LOOP", "END FOR",
                        "END CASE", "END REPEAT",
                    ):
                        depth -= 1
                    elif k == "IF" and case_depth == 0 and _at_statement_position(s, i):
                        depth += 1
                    elif k == "REPEAT" and _at_statement_position(s, i):
                        depth += 1
                    elif k == "BEGIN" and not re.match(
                        r"TRANSACTION\b", after, re.IGNORECASE
                    ):
                        depth += 1
                    elif k in ("WHILE", "LOOP"):
                        depth += 1
                    elif k == "FOR" and _at_statement_position(s, i):
                        depth += 1
                    i = tm.end()
                    continue
            i += 1
        return found

    if kind == "IF":
        ms = markers(("THEN", "ELSEIF", "ELSE", "END IF"))
        if not ms or ms[0][2] != "THEN" or ms[-1][2] != "END IF":
            raise ValueError(f"malformed IF block: {stmt[:120]!r}")
        branches: list[tuple[str, str]] = []
        else_body: str | None = None
        cond = stmt[body_from: ms[0][0]].strip()
        seg_start = ms[0][1]
        j = 1
        while j < len(ms):
            pos, end, name = ms[j]
            if name == "ELSEIF":
                branches.append((cond, stmt[seg_start:pos]))
                k = j + 1
                if k >= len(ms) or ms[k][2] != "THEN":
                    raise ValueError("ELSEIF without THEN")
                cond = stmt[end: ms[k][0]].strip()
                seg_start = ms[k][1]
                j = k + 1
                continue
            if name == "ELSE":
                branches.append((cond, stmt[seg_start:pos]))
                cond = None
                seg_start = end
                j += 1
                continue
            if name == "END IF":
                if cond is None:
                    else_body = stmt[seg_start:pos]
                else:
                    branches.append((cond, stmt[seg_start:pos]))
                break
            raise ValueError(f"unexpected {name} in IF block")
        return {"kind": "IF", "branches": branches, "else": else_body}
    if kind == "CASE":
        # procedural CASE (both forms) desugars to the IF structure:
        #   CASE [subject] WHEN v THEN stmts; ... [ELSE stmts;] END CASE
        ms = markers(("WHEN", "THEN", "ELSE", "END CASE"))
        if not ms or ms[0][2] != "WHEN" or ms[-1][2] != "END CASE":
            raise ValueError(f"malformed CASE block: {stmt[:120]!r}")
        subject = stmt[body_from : ms[0][0]].strip()
        branches = []
        else_body: str | None = None
        cond: str | None = None
        seg_start = 0
        j = 0
        while j < len(ms):
            pos, end, name = ms[j]
            if name == "WHEN":
                if cond is not None:
                    branches.append((cond, stmt[seg_start:pos]))
                if j + 1 >= len(ms) or ms[j + 1][2] != "THEN":
                    raise ValueError("CASE WHEN without THEN")
                val = stmt[end : ms[j + 1][0]].strip()
                cond = f"({subject}) = ({val})" if subject else val
                seg_start = ms[j + 1][1]
                j += 2
                continue
            if name == "ELSE":
                if cond is not None:
                    branches.append((cond, stmt[seg_start:pos]))
                    cond = None
                seg_start = end
                j += 1
                continue
            if name == "END CASE":
                if cond is not None:
                    branches.append((cond, stmt[seg_start:pos]))
                else:
                    else_body = stmt[seg_start:pos]
                break
            raise ValueError(f"unexpected {name} in CASE block")
        return {"kind": "IF", "branches": branches, "else": else_body}
    if kind == "WHILE":
        ms = markers(("DO", "END WHILE"))
        if len(ms) < 2 or ms[0][2] != "DO" or ms[-1][2] != "END WHILE":
            raise ValueError(f"malformed WHILE block: {stmt[:120]!r}")
        return {
            "kind": "WHILE",
            "cond": stmt[body_from: ms[0][0]].strip(),
            "body": stmt[ms[0][1]: ms[-1][0]],
        }
    if kind == "LOOP":
        ms = markers(("END LOOP",))
        if not ms:
            raise ValueError(f"malformed LOOP block: {stmt[:120]!r}")
        return {"kind": "LOOP", "body": stmt[body_from: ms[-1][0]]}
    if kind == "REPEAT":
        # REPEAT body; UNTIL cond END REPEAT — body runs at least once,
        # the condition is tested AFTER each pass (BigQuery scripting)
        ms = markers(("UNTIL", "END REPEAT"))
        if (
            len(ms) < 2
            or ms[0][2] != "UNTIL"
            or ms[-1][2] != "END REPEAT"
        ):
            raise ValueError(f"malformed REPEAT block: {stmt[:120]!r}")
        return {
            "kind": "REPEAT",
            "body": stmt[body_from: ms[0][0]],
            "cond": stmt[ms[0][1]: ms[-1][0]].strip(),
        }
    if kind == "FOR":
        # FOR var IN (query) DO body END FOR
        ms = markers(("IN", "DO", "END FOR"))
        if (
            len(ms) < 3
            or ms[0][2] != "IN"
            or ms[1][2] != "DO"
            or ms[-1][2] != "END FOR"
        ):
            raise ValueError(f"malformed FOR block: {stmt[:120]!r}")
        query = stmt[ms[0][1]: ms[1][0]].strip()
        # FOR's mandatory parens come off here: a parenthesized
        # ``(SELECT … FROM UNNEST(…))`` reaching transpile reads as an
        # EXPRESSION-position scalar subquery (round-11 probe: the
        # UNNEST element rewrite compiled the loop query to a bare
        # scalar), while the unwrapped text is a plain statement
        if query.startswith("(") and balanced_end(query, 0) == len(query):
            query = query[1:-1].strip()
        return {
            "kind": "FOR",
            "var": stmt[body_from: ms[0][0]].strip(),
            "query": query,
            "body": stmt[ms[1][1]: ms[-1][0]],
        }
    # BEGIN [body] [EXCEPTION WHEN ERROR THEN handler] END
    if re.match(r"\s*TRANSACTION\b", stmt[body_from:], re.IGNORECASE):
        return None  # BEGIN TRANSACTION: not a block
    ms = markers(("EXCEPTION WHEN ERROR THEN", "END"))
    if not ms or ms[-1][2] != "END":
        raise ValueError(f"malformed BEGIN block: {stmt[:120]!r}")
    handler: str | None = None
    if ms[0][2] == "EXCEPTION WHEN ERROR THEN":
        body = stmt[body_from: ms[0][0]]
        handler = stmt[ms[0][1]: ms[-1][0]]
    else:
        body = stmt[body_from: ms[-1][0]]
    return {"kind": "BEGIN", "body": body, "handler": handler}


def _rewrite_select_except(sql: str) -> str:
    """``SELECT [t.]* EXCEPT(a, b) FROM`` -> Spark's ``* EXCEPT (a, b)``
    (Spark 3.4+ supports EXCEPT with parens after *); normalize spacing."""
    return re.sub(
        r"\*\s+EXCEPT\s*\(",
        "* EXCEPT (",
        sql,
        flags=re.IGNORECASE,
    )


_STAR_REPLACE_RE = re.compile(
    r"((?:[A-Za-z_]\w*\.)?\*)\s+REPLACE\s*\(", re.IGNORECASE
)


def _rewrite_star_replace(sql: str) -> str:
    """BigQuery ``SELECT [t.]* REPLACE (expr AS col, ...)`` -> Spark
    ``* EXCEPT (col, ...), expr AS col, ...``. The replaced columns move
    to the end of the projection (Spark has no positional REPLACE);
    values and names are identical, which is what downstream SQL sees."""
    while True:
        m = _STAR_REPLACE_RE.search(sql)
        if not m:
            return sql
        open_idx = sql.index("(", m.end() - 1)
        end = balanced_end(sql, open_idx)
        if end < 0:
            return sql
        star = m.group(1)
        parts = split_top_level(sql[open_idx + 1 : end - 1])
        cols, exprs = [], []
        for p in parts:
            ma = None
            for ma in re.finditer(r"\bAS\s+(`?\w+`?)\s*$", p, re.IGNORECASE):
                pass
            if not ma:
                raise ValueError(f"* REPLACE item needs 'expr AS col': {p[:60]}")
            cols.append(ma.group(1).strip("`"))
            exprs.append(p.strip())
        repl = f"{star} EXCEPT ({', '.join(cols)}), {', '.join(exprs)}"
        sql = sql[: m.start()] + repl + sql[end:]


def _rewrite_cast_date_format(sql: str) -> str:
    def repl(m: re.Match) -> str:
        expr, fmt = m.group(1), m.group(2).strip("'\"")
        spark_fmt = _BQ_DATE_FMT.get(fmt.upper(), fmt)
        return f"to_date({expr}, '{spark_fmt}')"

    return re.sub(
        r"CAST\s*\(\s*(.+?)\s+AS\s+DATE\s+FORMAT\s+('[^']*'|\"[^\"]*\")\s*\)",
        repl,
        sql,
        flags=re.IGNORECASE,
    )


_ARRAY_TYPE_PREFIX_RE = re.compile(r"\bARRAY\s*<[\w<>, ]*>\s*$", re.IGNORECASE)

# A "[" after one of these words is an array literal, not a subscript of
# an identifier ("SELECT [1,2]", "WHEN x THEN [..]", "IN UNNEST([..])").
_KEYWORDS_BEFORE_ARRAY_LITERAL = frozenset(
    "SELECT WHEN THEN ELSE END AS IN AND OR NOT BY ON WHERE HAVING "
    "UNION ALL DISTINCT DEFAULT SET RETURN RETURNS BETWEEN LIKE IS "
    "COALESCE IF IFNULL NULLIF USING VALUES".split()
)


def _rewrite_array_literals(sql: str) -> str:
    """BigQuery array literals ``[a, b, c]`` / ``ARRAY<T>[a, b, c]`` ->
    ``array(a, b, c)``. A ``[`` directly after an identifier, ``)``,
    ``]`` or backtick is a subscript (``x[OFFSET(i)]``) and is left
    alone — BigQuery has no other bracket syntax."""
    out: list[str] = []
    pos = 0
    masked = mask(sql)
    i, n = 0, len(sql)
    while (i := masked.find("[", i)) >= 0:
        j = i - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        prev = sql[j] if j >= 0 else ""
        typed = None
        if prev == ">":
            m = _ARRAY_TYPE_PREFIX_RE.search(sql, 0, j + 1)
            if m and m.end() == j + 1:
                typed = m
        if typed is None and prev and (prev.isalnum() or prev in "_)]`"):
            if prev.isalnum() or prev == "_":
                w_end = j + 1
                w_start = j
                while w_start > 0 and (
                    sql[w_start - 1].isalnum() or sql[w_start - 1] == "_"
                ):
                    w_start -= 1
                word = sql[w_start:w_end].upper()
            else:
                word = ""
            if word == "ARRAY":
                # bare ARRAY[...] literal — consume the keyword too
                typed = re.compile("ARRAY", re.IGNORECASE).match(sql, w_start)
            elif word not in _KEYWORDS_BEFORE_ARRAY_LITERAL:
                i += 1
                continue  # subscript
        depth, k = 0, n
        for b in re.finditer(r"[\[\]]", masked[i:]):
            depth += 1 if b.group() == "[" else -1
            if depth == 0:
                k = i + b.start()
                break
        if k >= n:
            i += 1
            continue  # unbalanced — leave as-is
        inner = _rewrite_array_literals(sql[i + 1 : k])
        out.append(sql[pos : typed.start() if typed else i])
        out.append(f"array({inner})")
        pos = i = k + 1
    out.append(sql[pos:])
    return "".join(out)


def _split_angle_members(spec: str) -> list[str]:
    """Split ``a INT64, b ARRAY<STRING>`` on top-level commas (angle-
    bracket aware)."""
    out: list[str] = []
    depth = 0
    start = 0
    for i, ch in enumerate(spec):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(spec[start:i])
            start = i + 1
    out.append(spec[start:])
    return out


def _rewrite_typed_struct(sql: str) -> str:
    """``STRUCT<a T, b U>(v1, v2)`` -> ``named_struct('a', v1, 'b', v2)``
    (field names come from the type spec; Spark infers the types).
    Unnamed members fall back to ``struct(...)``. Plain
    ``STRUCT(v AS a)`` already parses natively. Angle brackets nest
    (ARRAY<...> members), so scan to the matching ``>``."""
    out: list[str] = []
    pos = 0
    for m in re.finditer(r"\bSTRUCT\s*<", sql, re.IGNORECASE):
        if m.start() < pos:
            continue
        depth, i, n = 1, m.end(), len(sql)
        while i < n and depth:
            if sql[i] == "<":
                depth += 1
            elif sql[i] == ">":
                depth -= 1
            i += 1
        j = i
        while j < n and sql[j].isspace():
            j += 1
        if depth or j >= n or sql[j] != "(":
            continue  # a type annotation (DDL), not a literal
        end = balanced_end(sql, j)
        if end < 0:
            continue
        names = [
            mem.strip().split()[0]
            for mem in _split_angle_members(sql[m.end() : i - 1])
            if mem.strip()
        ]
        args = [
            _rewrite_typed_struct(a.strip())
            for a in split_top_level(sql[j + 1 : end - 1])
        ]
        out.append(sql[pos : m.start()])
        if len(names) == len(args) and all(
            re.fullmatch(r"\w+", nm) and not _is_type_word(nm) for nm in names
        ):
            pairs = ", ".join(f"'{nm}', {arg}" for nm, arg in zip(names, args))
            out.append(f"named_struct({pairs})")
        else:
            out.append(f"struct({', '.join(args)})")
        pos = end
    out.append(sql[pos:])
    return "".join(out)


_BQ_TYPE_WORDS = frozenset(
    "INT64 FLOAT64 NUMERIC BIGNUMERIC STRING BYTES BOOL DATE DATETIME "
    "TIME TIMESTAMP GEOGRAPHY JSON ARRAY STRUCT INTERVAL".split()
)


def _is_type_word(word: str) -> bool:
    return word.upper() in _BQ_TYPE_WORDS


def _rewrite_extract_parts(sql: str) -> str:
    """BigQuery ``EXTRACT(part FROM x)`` for field names Spark's EXTRACT
    rejects or renames: DATE -> CAST AS DATE, DATETIME -> CAST AS
    TIMESTAMP_NTZ, TIME -> HH:mm:ss string (no Spark TIME type;
    documented approximation), DAYOFYEAR -> DOY, ISOWEEK -> WEEK
    (Spark's WEEK is the ISO week), ISOYEAR -> YEAROFWEEK, and
    BigQuery's Sunday-start WEEK (0-53, dates before the year's first
    Sunday are week 0) as an arithmetic expression."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("EXTRACT",)):
        inner = sql[open_idx + 1 : end - 1].strip()
        m = re.match(
            r"(DATE|DATETIME|TIME|DAYOFYEAR|ISOWEEK|ISOYEAR"
            r"|WEEK(?:\s*\(\s*\w+\s*\))?"
            r"|HOUR|MINUTE|SECOND|MILLISECOND|MICROSECOND)"
            r"\s+FROM\s+(.+)$",
            inner,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            continue
        part = re.sub(r"\s+", "", m.group(1).upper())
        expr = _rewrite_extract_parts(m.group(2).strip())
        tm = re.match(r"^TIME\s*'([^']*)'$", expr, re.IGNORECASE)
        if part in ("HOUR", "MINUTE", "SECOND", "MILLISECOND", "MICROSECOND"):
            # only rewritten when the source is a TIME literal (Spark's
            # TIME type has no EXTRACT yet); other sources pass through
            if not tm:
                continue
            repl = f"EXTRACT({part} FROM TIMESTAMP '1970-01-01 {tm.group(1)}')"
            out.append(sql[pos:start])
            out.append(repl)
            pos = end
            continue
        if tm:
            expr = f"TIMESTAMP '1970-01-01 {tm.group(1)}'"
        if part == "DATE":
            repl = f"CAST({expr} AS DATE)"
        elif part == "DATETIME":
            repl = f"CAST({expr} AS TIMESTAMP_NTZ)"
        elif part == "TIME":
            repl = f"date_format({expr}, 'HH:mm:ss')"
        elif part == "DAYOFYEAR":
            repl = f"EXTRACT(DOY FROM {expr})"
        elif part == "ISOWEEK":
            repl = f"EXTRACT(WEEK FROM {expr})"
        elif part == "ISOYEAR":
            repl = f"EXTRACT(YEAROFWEEK FROM {expr})"
        else:  # WEEK / WEEK(<WEEKDAY>): 0-based, weeks begin on the
            # start day (Sunday when unqualified); dates before the
            # year's first start-day are week 0
            m_day = re.fullmatch(r"WEEK(?:\((\w+)\))?", part)
            day = (m_day.group(1) if m_day and m_day.group(1) else "SUNDAY")
            if day not in _WEEKDAY_IDX:
                continue
            t = _WEEKDAY_IDX[day] + 1  # Spark dayofweek: Sunday=1
            # make_date, not trunc(d, 'YEAR'): the numeric-TRUNC rewrite
            # would capture the trunc() spelling
            fsd = (
                f"((({t} - dayofweek(make_date(year({expr}), 1, 1)) + 7) "
                f"% 7) + 1)"
            )
            repl = (
                f"IF(dayofyear({expr}) < {fsd}, 0, "
                f"((dayofyear({expr}) - {fsd}) DIV 7) + 1)"
            )
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_date_ctor(sql: str) -> str:
    """BigQuery 3-arg ``DATE(y, m, d)`` -> ``make_date(y, m, d)``
    (Spark's DATE() takes one argument)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("DATE",)):
        args = split_top_level(sql[open_idx + 1 : end - 1])
        if len(args) != 3:
            continue
        out.append(sql[pos:start])
        out.append(f"make_date({', '.join(a.strip() for a in args)})")
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _primary_start(sql: str, idx: int) -> int:
    """Start index of the primary expression (identifier / call /
    parenthesized / subscript chain, with dots) ending just before
    ``idx`` — used to wrap the target of a postfix subscript."""
    i = idx - 1
    while i >= 0 and sql[i].isspace():
        i -= 1
    while i >= 0:
        ch = sql[i]
        if ch in ")]":
            depth = 0
            close = {")": "(", "]": "["}[ch]
            while i >= 0:
                if sql[i] == ch:
                    depth += 1
                elif sql[i] == close:
                    depth -= 1
                    if depth == 0:
                        break
                i -= 1
            i -= 1
        elif ch == "`":
            i -= 1
            while i >= 0 and sql[i] != "`":
                i -= 1
            i -= 1
        elif ch.isalnum() or ch in "_.":
            i -= 1
        else:
            break
    return i + 1


def _rewrite_safe_subscript(sql: str) -> str:
    """``arr[SAFE_OFFSET(n)]`` / ``arr[SAFE_ORDINAL(n)]`` ->
    ``get(arr, n)`` / ``get(arr, n-1)`` — Spark's get() returns NULL out
    of bounds, matching BigQuery's SAFE_ subscripts (plain OFFSET/ORDINAL
    error on both engines under ANSI mode)."""
    pat = re.compile(
        r"\[\s*(SAFE_OFFSET|SAFE_ORDINAL)\s*\(\s*(\d+)\s*\)\s*\]",
        re.IGNORECASE,
    )
    while m := pat.search(mask(sql)):
        idx = int(m.group(2))
        if m.group(1).upper() == "SAFE_ORDINAL":
            idx -= 1
        p = _primary_start(sql, m.start())
        target = sql[p : m.start()].strip()
        sql = f"{sql[:p]}get({target}, {idx}){sql[m.end():]}"
    return sql


def _rewrite_offset_ordinal(sql: str) -> str:
    sql = re.sub(
        r"\[\s*OFFSET\s*\(\s*(\d+)\s*\)\s*\]",
        lambda m: f"[{m.group(1)}]",  # Spark [] is 0-based like OFFSET
        sql,
        flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"\[\s*ORDINAL\s*\(\s*(\d+)\s*\)\s*\]",
        lambda m: f"[{int(m.group(1)) - 1}]",
        sql,
        flags=re.IGNORECASE,
    )
    return sql


def _strftime_to_spark(fmt: str) -> str:
    for a, b in sorted(_STRFTIME_TO_SPARK, key=lambda p: -len(p[0])):
        fmt = fmt.replace(a, b)
    return fmt


def _rewrite_format_date(sql: str) -> str:
    """FORMAT_DATE/TIMESTAMP/DATETIME('fmt', expr) -> date_format(expr,
    'fmt'). Balanced-paren scan so nested calls in the expr (DATE_SUB,
    CURRENT_DATE(), ...) survive (ref: model_bqml.sql:92-94)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(
        sql, ("FORMAT_DATE", "FORMAT_TIMESTAMP", "FORMAT_DATETIME")
    ):
        args = split_top_level(sql[open_idx + 1 : end - 1])
        if len(args) != 2:
            continue
        fmt_raw = args[0].strip()
        if not (fmt_raw[:1] in "'\"" and fmt_raw[-1:] == fmt_raw[:1]):
            continue
        fmt = _strftime_to_spark(fmt_raw[1:-1])
        expr = _rewrite_format_date(args[1].strip())  # nested FORMAT_*
        out.append(sql[pos:start])
        out.append(f"date_format({expr}, '{fmt}')")
        pos = end
    out.append(sql[pos:])
    return "".join(out)


_TIME_UNIT_US = {
    "MICROSECOND": 1,
    "MILLISECOND": 1_000,
    "SECOND": 1_000_000,
    "MINUTE": 60_000_000,
    "HOUR": 3_600_000_000,
}


def _time_anchor(t: str) -> str:
    """The engine's TIME encoding is the HH:mm:ss[.SSSSSS] string
    (Spark 4's TIME type parses literals but supports almost no
    functions on them yet) — anchor it on the epoch date so timestamp
    arithmetic applies. CAST AS STRING accepts both encodings."""
    return f"to_timestamp(concat('1970-01-01 ', CAST({t} AS STRING)))"


def _rewrite_time_fns(sql: str) -> str:
    """BigQuery TIME function family over the string encoding:
    TIME_ADD/SUB wrap at 24 h (date_format drops the rolled day),
    TIME_DIFF counts whole units, TIME_TRUNC truncates, FORMAT_TIME /
    PARSE_TIME reuse the strftime mapping, TIME(h, m, s) and
    TIME(timestamp) construct, CURRENT_TIME() reads the clock.

    DOCUMENTED DIVERGENCE: outputs render whole seconds ('HH:mm:ss');
    sub-second TIME inputs are honored by the arithmetic (the anchored
    timestamp keeps micros) but truncated in the rendered result —
    BigQuery prints fractional seconds. TIME_DIFF at MILLISECOND/
    MICROSECOND granularity is exact (it never renders)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql,
        (
            "TIME_ADD",
            "TIME_SUB",
            "TIME_DIFF",
            "TIME_TRUNC",
            "FORMAT_TIME",
            "PARSE_TIME",
            "CURRENT_TIME",
            "TIME",
        ),
    ):
        args = [
            _rewrite_time_fns(a.strip())
            for a in split_top_level(sql[open_idx + 1 : end - 1])
            if a.strip()
        ]
        rep = None
        if fn in ("time_add", "time_sub") and len(args) == 2:
            sign = "+" if fn == "time_add" else "-"
            rep = (
                f"date_format({_time_anchor(args[0])} {sign} {args[1]}, "
                "'HH:mm:ss')"
            )
        elif fn == "time_diff" and len(args) == 3:
            unit = _TIME_UNIT_US.get(args[2].upper().strip())
            if unit:
                rep = (
                    f"CAST((unix_micros({_time_anchor(args[0])}) - "
                    f"unix_micros({_time_anchor(args[1])})) DIV {unit} "
                    "AS BIGINT)"
                )
        elif fn == "time_trunc" and len(args) == 2:
            part = args[1].upper().strip()
            if part in _TIME_UNIT_US:
                rep = (
                    f"date_format(date_trunc('{part}', "
                    f"{_time_anchor(args[0])}), 'HH:mm:ss')"
                )
        elif fn == "format_time" and len(args) == 2:
            fmt_raw = args[0].strip()
            if fmt_raw[:1] in "'\"" and fmt_raw[-1:] == fmt_raw[:1]:
                fmt = _strftime_to_spark(fmt_raw[1:-1])
                rep = f"date_format({_time_anchor(args[1])}, '{fmt}')"
        elif fn == "parse_time" and len(args) == 2:
            fmt_raw = args[0].strip()
            if fmt_raw[:1] in "'\"" and fmt_raw[-1:] == fmt_raw[:1]:
                fmt = _strftime_to_spark(fmt_raw[1:-1])
                rep = (
                    f"date_format(to_timestamp({args[1]}, '{fmt}'), "
                    "'HH:mm:ss')"
                )
        elif fn == "current_time" and not args:
            rep = "date_format(current_timestamp(), 'HH:mm:ss')"
        elif fn == "time" and len(args) == 3:
            rep = (
                "format_string('%02d:%02d:%02d', "
                f"{args[0]}, {args[1]}, {args[2]})"
            )
        elif fn == "time" and len(args) == 1:
            rep = f"date_format({args[0]}, 'HH:mm:ss')"
        if rep is None:
            continue
        out.append(sql[pos:start])
        out.append(rep)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_interval_arith(sql: str) -> str:
    """DATE_SUB/DATE_ADD/DATETIME_SUB/TIMESTAMP_SUB/..(x, INTERVAL n U)
    -> (x +/- INTERVAL n U). Spark's date_sub/date_add only accept int
    days (ref: model_bqml.sql:93, 277-278; output.sql:32-33)."""
    names = (
        "DATE_SUB",
        "DATE_ADD",
        "DATETIME_SUB",
        "DATETIME_ADD",
        "TIMESTAMP_SUB",
        "TIMESTAMP_ADD",
    )
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(sql, names):
        args = split_top_level(sql[open_idx + 1 : end - 1])
        if len(args) != 2 or not re.match(r"\s*INTERVAL\b", args[1], re.IGNORECASE):
            continue
        op = "-" if fn.endswith("_sub") else "+"
        expr = _rewrite_interval_arith(args[0].strip())  # nested *_SUB
        base = f"({expr} {op} {args[1].strip()})"
        if fn.startswith("datetime"):
            base = f"CAST({base} AS TIMESTAMP)"
        elif fn.startswith("date"):
            # BigQuery DATE_ADD/DATE_SUB return DATE; Spark's
            # date + day-time interval promotes to TIMESTAMP
            base = f"CAST({base} AS DATE)"
        out.append(sql[pos:start])
        out.append(base)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_datetime_fn(sql: str) -> str:
    """Single-arg ``DATETIME(x)`` -> ``CAST(x AS TIMESTAMP)``
    (ref: model_bqml.sql:277; output.sql:32)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("DATETIME",)):
        args = split_top_level(sql[open_idx + 1 : end - 1])
        if len(args) != 1:
            continue
        out.append(sql[pos:start])
        out.append(f"CAST({args[0].strip()} AS TIMESTAMP)")
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_raw_strings(sql: str) -> str:
    """BigQuery raw strings ``r"pat"``/``r'pat'`` -> plain strings with
    backslashes escaped (Spark has no raw literals; ref: output.sql:6,
    model_bqml.sql:226). Walks the quote structure so the ``r`` prefix
    is only recognized in CODE position immediately before the opening
    quote — a plain regex here corrupts any statement where an ``r``
    sits at the end of one string literal followed by another (e.g.
    ``'their offer' || 'x'`` or a ``'r'`` column-name argument)."""

    def fn(code: str, lit: str) -> tuple[str, str]:
        if not lit or lit[0] == "`":
            return code, lit
        # only the last 2 chars matter (prefix char + r) — O(n) scan
        m = re.search(r"(?<![\w$.])[rR]$", code[-2:])
        if not m:
            return code, lit
        body = lit[1:-1]
        return (
            code[: max(0, len(code) - 2) + m.start()],
            "'" + body.replace("\\", "\\\\").replace("'", "\\'") + "'",
        )

    return "".join(map("".join, starmap(fn, segments(sql))))


#: fast bail for the bytes-literal pass — the prefix letter must sit
#: immediately before the quote, so this misses nothing real
_BYTES_LIT_HINT_RE = re.compile(r"[bB][rR]?['\"]|[rR][bB]['\"]")

_BYTES_ESCAPES = {
    "\\": b"\\", "'": b"'", '"': b'"', "`": b"`", "?": b"?",
    "a": b"\a", "b": b"\b", "f": b"\f", "n": b"\n",
    "r": b"\r", "t": b"\t", "v": b"\v",
}


def _decode_bytes_literal(body: str, raw: bool) -> bytes:
    """The byte content of a BigQuery bytes literal body (text between
    the quotes): raw keeps backslashes verbatim; otherwise the escape
    set is BigQuery's (named, \\xHH, \\ooo — \\u is NOT legal in bytes
    literals and rejects loudly). Non-ASCII characters contribute their
    UTF-8 encoding, matching BigQuery."""
    if raw:
        return body.encode("utf-8")
    out = bytearray()
    i, n = 0, len(body)
    while i < n:
        ch = body[i]
        if ch != "\\":
            out += ch.encode("utf-8")
            i += 1
            continue
        if i + 1 >= n:
            raise ValueError("trailing backslash")
        e = body[i + 1]
        if e in _BYTES_ESCAPES:
            out += _BYTES_ESCAPES[e]
            i += 2
            continue
        if e in "xX" and re.match(r"[0-9A-Fa-f]{2}", body[i + 2 : i + 4]):
            out.append(int(body[i + 2 : i + 4], 16))
            i += 4
            continue
        if e in "01234567" and re.match(r"[0-7]{3}", body[i + 1 : i + 4]):
            out.append(int(body[i + 1 : i + 4], 8))
            i += 4
            continue
        raise ValueError(f"unsupported escape \\{e} in bytes literal")
    return bytes(out)


def _rewrite_bytes_literals(sql: str) -> str:
    """BigQuery bytes literals ``b'…'`` / ``B"…"`` (raw combos rb/br/…)
    -> Spark hex literals ``X'…'`` (round-11 probe: Spark lexes ``b``
    as an unsupported typed-literal prefix). Runs BEFORE the raw-string
    pass so ``br'…'`` isn't half-consumed as a raw STRING first; walks
    code/literal pairs so a column named ``b`` before a plain string
    (``b 'x'`` never matches — the prefix must be adjacent) and ``b``
    inside literals are untouched."""

    if not _BYTES_LIT_HINT_RE.search(sql):
        return sql  # no b'/b"/rb'/br' anywhere — skip the walk

    def fn(code: str, lit: str) -> tuple[str, str]:
        if not lit or lit[0] == "`":
            return code, lit
        m = re.search(r"(?<![\w$.])(rb|br|b)$", code[-3:], re.IGNORECASE)
        if not m:
            return code, lit
        raw = "r" in m.group(1).lower()
        try:
            data = _decode_bytes_literal(lit[1:-1], raw)
        except ValueError as e:
            raise ValueError(f"bytes literal {lit[:40]!r}: {e}") from None
        return (
            code[: max(0, len(code) - 3) + m.start()],
            "X'" + data.hex().upper() + "'",
        )

    return "".join(map("".join, starmap(fn, segments(sql))))


def _rewrite_triple_quoted_strings(sql: str) -> str:
    """BigQuery triple-quoted literals ``'''…'''`` / ``\"\"\"…\"\"\"``
    (optionally raw-prefixed) -> escaped single-quoted literals. Spark
    has no triple-quoted form — it lexed ``'''abc'''`` as adjacent
    literals and kept quote characters in the value (round-11 verdict:
    silently wrong values). Runs AFTER ``_rewrite_temp_function`` so
    ``LANGUAGE js AS '''…'''`` bodies are already consumed by the JS
    subset compiler, and BEFORE every other pass so the rest of the
    pipeline only ever sees plain literals. Escape sequences are copied
    verbatim (same meaning in the single-quoted form); only bare
    quotes need escaping."""
    if "'''" not in sql and '"""' not in sql:
        return sql  # fast bail — this pass runs per statement

    def fn(code: str, lit: str) -> tuple[str, str]:
        if len(lit) < 6 or lit[0] == "`" or lit[:3] not in ("'''", '"""'):
            return code, lit
        body = lit[3:-3]
        m = re.search(r"(?<![\w$.])[rR]$", code[-2:])
        if m:
            # raw: no escape processing in the body — double the
            # backslashes so the plain literal reproduces it, and drop
            # the prefix from the code segment
            code = code[: max(0, len(code) - 2) + m.start()]
            return (
                code,
                "'" + body.replace("\\", "\\\\").replace("'", "\\'") + "'",
            )
        # escapes copy through; only a bare quote needs escaping
        body = re.sub(
            r"\\.|'",
            lambda m: "\\'" if m.group() == "'" else m.group(),
            body,
            flags=re.S,
        )
        return code, "'" + body + "'"

    return "".join(map("".join, starmap(fn, segments(sql))))


def _rewrite_string_agg(sql: str) -> str:
    """``STRING_AGG([DISTINCT] x[, sep][ ORDER BY ...])`` ->
    ``array_join(array_sort(collect_set(x)), sep)`` (DISTINCT; sorted so
    the output is deterministic — BigQuery's unordered STRING_AGG is
    free to pick any order) or ``array_join(collect_list(x), sep)``
    (ref: controller/ml_model/bigquery.py:95-103)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("STRING_AGG",)):
        inner = sql[open_idx + 1 : end - 1].strip()
        distinct = bool(re.match(r"DISTINCT\b", inner, re.IGNORECASE))
        if distinct:
            inner = inner[len("DISTINCT") :].strip()
        # trailing top-level LIMIT n -> slice after the sort
        limit = None
        m_lim = re.search(r"\bLIMIT\s+(\d+)\s*$", inner, re.IGNORECASE)
        if m_lim and balanced_end("(" + inner[: m_lim.start()] + ")", 0) != -1:
            inner, limit = inner[: m_lim.start()].rstrip(), int(m_lim.group(1))
        # top-level ORDER BY o [ASC|DESC] -> real sort (struct-sort for
        # non-DISTINCT arbitrary keys, array_sort for DISTINCT/self)
        order_expr = direction = None
        m_ord = re.search(r"\bORDER\s+BY\b", inner, re.IGNORECASE)
        if m_ord and balanced_end("(" + inner[: m_ord.start()] + ")", 0) == -1:
            m_ord = None  # ORDER BY sits inside parens — leave it
        if m_ord:
            tail = inner[m_ord.end() :].strip()
            inner = inner[: m_ord.start()].rstrip()
            m_dir = re.search(r"\s+(ASC|DESC)\s*$", tail, re.IGNORECASE)
            if m_dir:
                direction = m_dir.group(1).upper()
                tail = tail[: m_dir.start()].strip()
            order_expr = tail
        parts = split_top_level(inner)
        expr = parts[0].strip()
        sep = parts[1].strip() if len(parts) > 1 else "','"
        arr = f"collect_set({expr})" if distinct else f"collect_list({expr})"
        def _canon(e: str) -> str:
            return re.sub(r"\s+", "", e).lower()

        if order_expr is not None:
            if distinct and _canon(order_expr) != _canon(expr):
                # BigQuery rejects this form loudly (the ORDER BY key
                # of a DISTINCT aggregation must be the aggregated
                # expression itself) — substituting value order would
                # silently change the output string (ADVICE r6)
                raise ValueError(
                    "STRING_AGG: An aggregate function that has both"
                    " DISTINCT and ORDER BY arguments can only ORDER BY"
                    f" expressions that are arguments to the function;"
                    f" got ORDER BY {order_expr!r} over DISTINCT {expr!r}"
                )
            if distinct or _canon(order_expr) == _canon(expr):
                arr = f"array_sort({arr})"
            else:
                arr = (
                    f"transform(array_sort(collect_list("
                    f"struct({order_expr} AS _o, {expr} AS _v))), s -> s._v)"
                )
            if direction == "DESC":
                arr = f"reverse({arr})"
        elif distinct:
            # unordered DISTINCT: sorted for determinism (BigQuery may
            # pick any order)
            arr = f"array_sort({arr})"
        if limit is not None:
            arr = f"slice({arr}, 1, {limit})"
        out.append(sql[pos:start])
        out.append(f"array_join({arr}, {sep})")
        pos = end
    out.append(sql[pos:])
    return "".join(out)


# Everyday BigQuery scalar/aggregate functions whose Spark twin differs
# only by name. Applied word-bounded and only when followed by "(", so
# e.g. FORMAT( matches but FORMAT_DATE( (handled structurally above)
# does not. Spark twins verified against the Spark 4 function registry.
_FN_RENAMES: list[tuple[str, str]] = [
    ("SAFE_CAST", "TRY_CAST"),
    ("COUNTIF", "count_if"),
    ("LOGICAL_AND", "bool_and"),
    ("LOGICAL_OR", "bool_or"),
    ("ARRAY_LENGTH", "size"),
    ("STRPOS", "instr"),
    ("STARTS_WITH", "startswith"),
    ("ENDS_WITH", "endswith"),
    # BigQuery's scalar JSON extractors all map to get_json_object
    # (string out — the JSON-typed variants lose their JSON type, which
    # Spark doesn't have as a column type)
    ("JSON_EXTRACT_SCALAR", "get_json_object"),
    ("JSON_VALUE", "get_json_object"),
    ("JSON_EXTRACT", "get_json_object"),
    ("JSON_QUERY", "get_json_object"),
    ("TO_JSON_STRING", "to_json"),
    ("GENERATE_ARRAY", "sequence"),
    ("GENERATE_DATE_ARRAY", "sequence"),
    ("ARRAY_TO_STRING", "array_join"),
    ("ARRAY_CONCAT", "concat"),
    ("ARRAY_REVERSE", "reverse"),
    ("BYTE_LENGTH", "octet_length"),
    ("FORMAT", "format_string"),
    ("ERROR", "raise_error"),
    ("SAFE_ADD", "try_add"),
    ("SAFE_SUBTRACT", "try_subtract"),
    ("SAFE_MULTIPLY", "try_multiply"),
    ("UNICODE", "ascii"),
    ("CHR", "char"),
    ("TO_BASE64", "base64"),
    ("FROM_BASE64", "unbase64"),
    ("FROM_HEX", "unhex"),
    ("JSON_KEYS", "json_object_keys"),
    ("IS_NAN", "isnan"),
    ("ARRAY_INCLUDES", "array_contains"),
    # same 3-arg (start, stop, INTERVAL step) shape as Spark sequence
    ("GENERATE_TIMESTAMP_ARRAY", "sequence"),
]


def _rewrite_misc_fns(sql: str) -> str:
    """Structural rewrites for BigQuery functions with no same-shape
    Spark twin: NET.* URL helpers, code-point conversions, Unicode
    normalization, RANGE_BUCKET, 3/4-arg INSTR (argument order and
    occurrence/backward-search semantics differ), EDIT_DISTANCE /
    IS_INF / byte decoding, vector COSINE/EUCLIDEAN_DISTANCE (HOF
    folds), and APPROX_TOP_COUNT/SUM (exact top-k pair algebra)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql,
        (
            r"NET\.HOST",
            r"NET\.REG_DOMAIN",
            "CODE_POINTS_TO_STRING",
            "TO_CODE_POINTS",
            "NORMALIZE_AND_CASEFOLD",
            "NORMALIZE",
            "RANGE_BUCKET",
            "INSTR",
            "TRIM",
            "LTRIM",
            "RTRIM",
            "CONTAINS_SUBSTR",
            "JSON_EXTRACT_STRING_ARRAY",
            "JSON_EXTRACT_ARRAY",
            "JSON_QUERY_ARRAY",
            "JSON_VALUE_ARRAY",
            "EDIT_DISTANCE",
            "IS_INF",
            "SAFE_CONVERT_BYTES_TO_STRING",
            "COSINE_DISTANCE",
            "EUCLIDEAN_DISTANCE",
            "APPROX_TOP_COUNT",
            "APPROX_TOP_SUM",
            "ARRAY_FIRST",
            "ARRAY_LAST",
            "ARRAY_SLICE",
            "SHA256",
            "SHA512",
            "DATE_BUCKET",
            "TIMESTAMP_BUCKET",
            "DATETIME_BUCKET",
            r"ML\.DISTANCE",
            r"ML\.BUCKETIZE",
            r"ML\.FEATURE_CROSS",
            r"ML\.NGRAMS",
            "SEARCH",
            "TEXT_ANALYZE",
            "COTH",
            "SECH",
            "CSCH",
            "GENERATE_DATE_ARRAY",
            "SAFE_NEGATE",
            "SPLIT_SUBSTR",
            "MAKE_INTERVAL",
            r"ML\.BAG_OF_WORDS",
            "COLLATE",
            "JSON_ARRAY_APPEND",
            "JSON_ARRAY_INSERT",
            "JSON_SET",
            "JSON_REMOVE",
            "JSON_STRIP_NULLS",
            "JSON_ARRAY",
            "JSON_OBJECT",
            "LAX_INT64",
            "LAX_FLOAT64",
            "LAX_BOOL",
            "LAX_STRING",
            "INT64",
            "FLOAT64",
            "BOOL",
            "ANY_VALUE",
            "LAST_DAY",
            "PARSE_JSON",
            "JSON_TYPE",
        ),
    ):
        args = [
            _rewrite_misc_fns(a.strip())
            for a in split_top_level(sql[open_idx + 1 : end - 1])
        ]
        fn = fn.replace(" ", "")
        rep = None
        if fn == "net.host" and len(args) == 1:
            rep = f"parse_url({args[0]}, 'HOST')"
        elif fn == "net.reg_domain" and len(args) == 1:
            # registrable domain against the vendored public-suffix
            # snapshot (functions/psl.py): ccSLD registries like co.uk
            # take three labels, everything else the last two. Pure SQL
            # CASE + IN over a compile-time constant list — codegen'd,
            # no join, no UDF.
            from .functions.psl import reg_domain_sql

            rep = reg_domain_sql(f"parse_url({args[0]}, 'HOST')")
        elif fn == "code_points_to_string" and len(args) == 1:
            # char() wraps mod 256; Character.toString(int) handles the
            # full Unicode range incl. astral planes (Java 9+ API —
            # fine everywhere Spark 4 runs, which requires 17+).
            # Reflection is
            # row-at-a-time — acceptable for this conversion function,
            # which never appears in reference-template hot paths.
            rep = (
                f"concat_ws('', transform({args[0]}, "
                "__cp -> reflect('java.lang.Character', 'toString', "
                "CAST(__cp AS INT))))"
            )
        elif fn == "to_code_points" and len(args) == 1:
            rep = (
                f"transform(filter(split({args[0]}, ''), "
                "__c -> __c <> ''), __c -> ascii(__c))"
            )
        elif fn == "range_bucket" and len(args) == 2:
            (p_e,) = _fresh_lambda_params([args[0]], "__e")
            rep = (
                f"CAST(size(filter({args[1]}, {p_e} -> {p_e} <= {args[0]}))"
                " AS BIGINT)"
            )
        elif fn == "generate_date_array" and len(args) in (2, 3):
            step = args[2] if len(args) == 3 else "INTERVAL 1 DAY"
            # BigQuery returns [] when the step sign contradicts the
            # bounds; Spark's sequence raises — guard by literal sign
            sm = re.search(r"INTERVAL\s+(-?\d+)", step, re.IGNORECASE)
            neg = bool(sm and int(sm.group(1)) < 0)
            a0, a1 = f"CAST({args[0]} AS DATE)", f"CAST({args[1]} AS DATE)"
            empty_when = f"{a0} < {a1}" if neg else f"{a0} > {a1}"
            rep = (
                f"CASE WHEN {empty_when} THEN CAST(array() AS "
                f"ARRAY<DATE>) ELSE sequence({a0}, {a1}, {step}) END"
            )
        elif fn == "safe_negate" and len(args) == 1:
            # NULL on INT64 overflow instead of the ANSI error
            rep = f"try_subtract(CAST(0 AS BIGINT), {args[0]})"
        elif fn == "split_substr" and len(args) in (3, 4):
            # BigQuery SPLIT_SUBSTR(value, delim, start[, count]):
            # the split parts from start (negative = from the end),
            # re-joined with the delimiter. slice() clamps
            # out-of-range lengths like BigQuery clamps counts.
            # Literal delimiters only (Spark split takes a regex — the
            # same restriction as the SPLIT rewrite).
            d = args[1].strip()
            if not (d[:1] in "'\"" and d[-1:] == d[:1]):
                raise ValueError(
                    "SPLIT_SUBSTR needs a literal delimiter (the engine"
                    " regex-escapes it for Spark's split)"
                )
            esc = "".join(
                ("\\\\" + ch) if ch in _REGEX_SPECIALS else ch
                for ch in d[1:-1]
            ).replace("'", "\\'")
            parts = f"split({args[0]}, '{esc}')"
            cnt = (
                args[3]
                if len(args) == 4
                else f"greatest(size({parts}), 1)"
            )
            rep = f"array_join(slice({parts}, {args[2]}, {cnt}), {d})"
        elif fn == "make_interval" and 1 <= len(args) <= 6:
            # BigQuery (year, month, day, hour, minute, second) ->
            # Spark (years, months, WEEKS, days, hours, mins, secs)
            a = list(args) + ["0"] * (6 - len(args))
            rep = (
                f"make_interval({a[0]}, {a[1]}, 0, {a[2]}, {a[3]}, "
                f"{a[4]}, {a[5]})"
            )
        elif fn == "ml.bag_of_words" and len(args) == 1:
            # BigQuery's signature takes the TOKENIZED document
            # (ARRAY<STRING>) -> ARRAY<STRUCT<term, count>> sorted by
            # term; a string-literal argument is tokenized on
            # whitespace as a convenience (counting via HOFs)
            a = args[0].strip()
            p_w, p_t = _fresh_lambda_params([a], "__w", "__t")
            if a[:1] in "'\"" and a[-1:] == a[:1]:
                toks = f"filter(split({a}, ' '), {p_w} -> {p_w} <> '')"
            else:
                toks = f"filter({a}, {p_w} -> {p_w} IS NOT NULL)"
            rep = (
                f"transform(array_sort(array_distinct({toks})), "
                f"{p_w} -> struct({p_w} AS term, "
                f"CAST(size(filter({toks}, {p_t} -> {p_t} = {p_w})) AS"
                " BIGINT) AS count))"
            )
        elif fn == "collate" and len(args) == 2:
            spec = args[1].strip().strip("'\"")
            if spec in ("und:ci",):
                rep = f"collate({args[0]}, 'UTF8_LCASE')"
            else:
                raise ValueError(
                    f"COLLATE spec {spec!r} is not supported; the engine"
                    " maps 'und:ci' to Spark's UTF8_LCASE collation"
                )
        elif fn in (
            "json_set",
            "json_remove",
            "json_array_append",
            "json_array_insert",
            "json_strip_nulls",
        ):
            # JSON mutators -> Arrow UDFs (functions/json_mutators.py).
            # Values encode as to_json(struct(v)) so any SQL type
            # reaches the UDF as JSON text; multi-pair forms nest
            # left-to-right (BigQuery's application order). Named args
            # (append_each_element / include_arrays / remove_empty)
            # reject loudly.
            if any("=>" in a for a in args):
                raise ValueError(
                    f"{fn.upper()}: named arguments are not supported "
                    "(append_each_element / include_arrays / "
                    "remove_empty use their BigQuery defaults)"
                )

            def _enc(v: str) -> str:
                return (
                    f"to_json(struct({v} AS v), "
                    "map('ignoreNullFields', 'false'))"
                )

            if fn == "json_set" and len(args) >= 3 and len(args) % 2 == 1:
                rep = args[0]
                for pi in range(1, len(args), 2):
                    rep = (
                        f"bq_json_set({rep}, {args[pi]}, "
                        f"{_enc(args[pi + 1])})"
                    )
            elif fn == "json_remove" and len(args) >= 2:
                rep = args[0]
                for pth in args[1:]:
                    rep = f"bq_json_remove({rep}, {pth})"
            elif (
                fn in ("json_array_append", "json_array_insert")
                and len(args) == 3
            ):
                rep = f"bq_{fn}({args[0]}, {args[1]}, {_enc(args[2])})"
            elif fn == "json_strip_nulls" and len(args) == 1:
                rep = f"bq_json_strip_nulls({args[0]})"
            else:
                raise ValueError(
                    f"{fn.upper()}: unsupported argument shape "
                    f"({len(args)} args)"
                )
        elif fn in ("normalize", "normalize_and_casefold") and len(args) in (
            1,
            2,
        ):
            # Unicode normalization. BigQuery takes the mode as a bare
            # keyword (NFC default). No Spark builtin → the registered
            # Arrow Python UDFs (functions.register_engine_udfs); a
            # scalar conversion fn, never in reference-template hot
            # paths.
            form = (args[1] if len(args) == 2 else "NFC").strip("'\" ").upper()
            if form in ("NFC", "NFKC", "NFD", "NFKD"):
                udf = (
                    "bq_normalize_and_casefold"
                    if fn == "normalize_and_casefold"
                    else "bq_normalize"
                )
                rep = f"{udf}({args[0]}, '{form}')"
        elif fn == "instr" and len(args) in (3, 4):
            # BigQuery INSTR(value, sub, pos[, occurrence]). Fast path:
            # positive literal pos + first occurrence -> Spark locate
            # (args swapped). General path: enumerate match positions
            # JVM-side (sequence+filter HOFs), then index the
            # occurrence'th one — forward for pos > 0, backward from
            # length+pos+1 for pos < 0 (matches may overlap, as in
            # BigQuery). pos = 0 errors, like BigQuery.
            v, s = args[0], args[1]
            p = args[2]
            o = args[3] if len(args) == 4 else "1"
            if len(args) == 3 and re.fullmatch(r"\+?0*[1-9]\d*", p):
                # empty substring matches at the search position (BigQuery
                # STRPOS/INSTR semantics), so guard locate()'s clamping
                rep = (
                    f"CASE WHEN {v} IS NULL OR {s} IS NULL THEN "
                    f"CAST(NULL AS INT) WHEN length({s}) = 0 THEN "
                    f"IF(CAST({p} AS INT) <= length({v}) + 1, "
                    f"CAST({p} AS INT), 0) "
                    f"ELSE locate({s}, {v}, {p}) END"
                )
            else:
                # empty substring: a match at every position 1..len+1, so
                # occurrence indexing below works uniformly (same result
                # as the 3-arg fast path for INSTR(x, '', p))
                (p_q,) = _fresh_lambda_params([v, s, p, o], "__q")
                allm = (
                    f"CASE WHEN length({s}) = 0 THEN "
                    f"sequence(1, length({v}) + 1) "
                    f"WHEN length({v}) >= "
                    f"length({s}) THEN filter(sequence(1, length({v}) - "
                    f"length({s}) + 1), {p_q} -> substring({v}, {p_q}, "
                    f"length({s})) = {s}) ELSE CAST(array() AS ARRAY<INT>) "
                    f"END"
                )
                fwd = (
                    f"coalesce(try_element_at(filter({allm}, {p_q} -> "
                    f"{p_q} >= CAST({p} AS INT)), CAST({o} AS INT)), 0)"
                )
                bwd = (
                    f"coalesce(try_element_at(reverse(filter({allm}, "
                    f"{p_q} -> {p_q} <= length({v}) + CAST({p} AS INT) + 1)), "
                    f"CAST({o} AS INT)), 0)"
                )
                rep = (
                    f"CASE WHEN {v} IS NULL OR {s} IS NULL OR "
                    f"({p}) IS NULL OR ({o}) IS NULL THEN "
                    f"CAST(NULL AS INT) "
                    f"WHEN CAST({p} AS INT) = 0 THEN "
                    f"CAST(raise_error('INSTR: position cannot be 0') "
                    f"AS INT) WHEN CAST({p} AS INT) > 0 THEN {fwd} "
                    f"ELSE {bwd} END"
                )
        elif fn in ("trim", "ltrim", "rtrim") and len(args) == 2:
            # BigQuery: TRIM(value, set); Spark: trim(set, value) — swap
            rep = f"{fn}({args[1]}, {args[0]})"
        elif fn == "contains_substr" and len(args) == 2:
            # BigQuery: case-insensitive containment (its NFKC casefold
            # pre-pass is approximated by lower(); documented divergence
            # for non-ASCII case pairs like Straße/STRASSE)
            rep = (
                f"contains(lower(CAST({args[0]} AS STRING)), "
                f"lower(CAST({args[1]} AS STRING)))"
            )
        elif fn in (
            "json_extract_array",
            "json_extract_string_array",
            "json_query_array",
            "json_value_array",
        ) and len(args) in (1, 2):
            # array extraction: enumerate the JSON array positionally via
            # json_array_length + get_json_object (scalar elements are
            # unquoted, i.e. the *_STRING_ARRAY/VALUE_ARRAY form; the
            # quoted-JSON variants normalize to scalars too — documented)
            j = args[0]
            path = args[1] if len(args) == 2 else "'$'"
            jal = f"json_array_length(get_json_object({j}, {path}))"
            (p_i,) = _fresh_lambda_params([j, path], "__i")
            rep = (
                f"(CASE WHEN {jal} IS NULL THEN NULL WHEN {jal} = 0 "
                f"THEN CAST(array() AS ARRAY<STRING>) "
                f"ELSE transform(sequence(0, {jal} - 1), "
                f"{p_i} -> get_json_object({j}, "
                f"concat({path}, '[', {p_i}, ']'))) END)"
            )
        elif fn == "edit_distance" and len(args) in (2, 3):
            # BigQuery caps the result at max_distance (3rd arg, also
            # spelled `max_distance => d`)
            if len(args) == 2:
                rep = f"levenshtein({args[0]}, {args[1]})"
            else:
                d = re.sub(
                    r"^max_distance\s*=>\s*", "", args[2], flags=re.IGNORECASE
                )
                rep = f"least(levenshtein({args[0]}, {args[1]}), {d})"
        elif fn == "is_inf" and len(args) == 1:
            rep = f"(abs({args[0]}) = CAST('Infinity' AS DOUBLE))"
        elif fn == "safe_convert_bytes_to_string" and len(args) == 1:
            # Spark decode replaces invalid UTF-8 with U+FFFD — the same
            # lenient contract as BigQuery's SAFE_CONVERT
            rep = f"decode({args[0]}, 'UTF-8')"
        elif fn == "cosine_distance" and len(args) == 2:
            a, b = args
            dot = (
                f"aggregate(zip_with({a}, {b}, (__x, __y) -> "
                f"CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), "
                f"CAST(0.0 AS DOUBLE), (__acc, __z) -> __acc + __z)"
            )
            na = (
                f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), (__acc, __z) -> "
                f"__acc + CAST(__z AS DOUBLE) * CAST(__z AS DOUBLE)))"
            )
            nb = (
                f"sqrt(aggregate({b}, CAST(0.0 AS DOUBLE), (__acc, __z) -> "
                f"__acc + CAST(__z AS DOUBLE) * CAST(__z AS DOUBLE)))"
            )
            rep = f"(CAST(1.0 AS DOUBLE) - {dot} / ({na} * {nb}))"
        elif fn == "euclidean_distance" and len(args) == 2:
            a, b = args
            rep = (
                f"sqrt(aggregate(zip_with({a}, {b}, (__x, __y) -> "
                f"(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE)) * "
                f"(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE))), "
                f"CAST(0.0 AS DOUBLE), (__acc, __z) -> __acc + __z))"
            )
        elif fn == "approx_top_count" and len(args) == 2:
            # exact top-k (value, count) pairs — BigQuery's contract is
            # "approximate top k"; the zero-error answer satisfies it and
            # is oracle-reproducible. NULL is a returnable value with its
            # own count (BigQuery documents this in its examples), so the
            # input is struct-tagged before collect_list (which would drop
            # bare NULL elements). Ties break by value ASC with NULL last
            # (deterministic; BigQuery's tie order is unspecified).
            # Catalyst dedupes the repeated collect_list aggregate into
            # one buffer; memory is the group's distinct set — the same
            # exact-vs-sketch tradeoff as the HLL family default.
            x, k = args
            # only the outer transform's param scopes over user text
            # ({cl} embeds x inside its body); __e / __s bodies are
            # param-only, but keep all three collision-checked so the
            # derived outer name can never equal an inner one
            p_v, p_e, p_s = _fresh_lambda_params([x, k], "__v", "__e", "__s")
            cl = f"collect_list(struct(({x}) IS NULL AS n, {x} AS v))"
            rep = (
                f"transform(slice(array_sort(transform(array_distinct({cl}), "
                f"{p_v} -> struct(-size(filter({cl}, {p_e} -> {p_e}.n = {p_v}.n "
                f"AND {p_e}.v <=> {p_v}.v)) AS c, "
                f"{p_v}.n AS vn, {p_v}.v AS vv))), 1, {k}), "
                f"{p_s} -> struct({p_s}.vv AS value, CAST(-{p_s}.c AS BIGINT) AS count))"
            )
        elif fn == "approx_top_sum" and len(args) == 3:
            # same NULL-value contract as APPROX_TOP_COUNT; NULL weights
            # contribute 0 to the sum (BigQuery skips NULL weights)
            x, w, k = args
            p_v, p_p, p_a, p_s = _fresh_lambda_params(
                [x, w, k], "__v", "__p", "__a", "__s"
            )
            cl = (
                f"collect_list(struct(({x}) IS NULL AS n, {x} AS x, "
                f"coalesce(CAST({w} AS DOUBLE), CAST(0.0 AS DOUBLE)) AS w))"
            )
            rep = (
                f"transform(slice(array_sort(transform("
                f"array_distinct(transform({cl}, {p_p} -> "
                f"struct({p_p}.n AS n, {p_p}.x AS x))), "
                f"{p_v} -> struct(-aggregate(filter({cl}, {p_p} -> {p_p}.n = {p_v}.n "
                f"AND {p_p}.x <=> {p_v}.x), "
                f"CAST(0.0 AS DOUBLE), ({p_a}, {p_p}) -> {p_a} + {p_p}.w) AS s, "
                f"{p_v}.n AS vn, {p_v}.x AS vv))), 1, {k}), "
                f"{p_s} -> struct({p_s}.vv AS value, -{p_s}.s AS sum))"
            )
        elif fn == "last_day" and len(args) == 2:
            # BigQuery 2-arg LAST_DAY: last day of the part containing d.
            # WEEK ends Saturday (BigQuery weeks start Sunday); ISOWEEK
            # ends Sunday. 1-arg LAST_DAY is Spark-native (month).
            d, part = args[0], args[1].strip().upper()
            if part == "MONTH":
                rep = f"last_day({d})"
            elif part == "YEAR":
                rep = f"make_date(year({d}), 12, 31)"
            elif part == "QUARTER":
                rep = f"last_day(make_date(year({d}), quarter({d}) * 3, 1))"
            elif part == "WEEK":
                rep = f"date_add({d}, (7 - dayofweek({d})) % 7)"
            elif part == "ISOWEEK":
                rep = f"date_add({d}, (8 - dayofweek({d})) % 7)"
            else:
                # WEEK(<WEEKDAY>): week ends the day before the start
                # day; with Spark dayofweek Sunday=1 the end-day index
                # is ((t-2) % 7) + 1, so days to add = (t+6-dow) % 7
                m_wk = re.fullmatch(
                    r"WEEK\s*\(\s*(\w+)\s*\)", part
                )
                if m_wk and m_wk.group(1) in _WEEKDAY_IDX:
                    t = _WEEKDAY_IDX[m_wk.group(1)] + 1
                    rep = (
                        f"date_add({d},"
                        f" ({t + 6} - dayofweek({d}) + 7) % 7)"
                    )
                else:
                    rep = sql[start:end]
        elif fn == "parse_json" and len(args) in (1, 2):
            # JSON is carried as its text in this engine (see the typed-
            # literal strip): PARSE_JSON reduces to its string argument
            # (the optional wide_number_mode arg only affects error
            # behavior BigQuery-side)
            rep = f"({args[0]})"
        elif fn == "json_type" and len(args) == 1:
            t = f"ltrim({args[0]})"
            rep = (
                f"CASE WHEN {args[0]} IS NULL THEN NULL "
                f"WHEN startswith({t}, '{{') THEN 'object' "
                f"WHEN startswith({t}, '[') THEN 'array' "
                f"WHEN startswith({t}, '\"') THEN 'string' "
                f"WHEN rtrim({t}) IN ('true', 'false') THEN 'boolean' "
                f"WHEN rtrim({t}) = 'null' THEN 'null' "
                f"ELSE 'number' END"
            )
        elif fn == "array_first" and len(args) == 1:
            rep = f"element_at({args[0]}, 1)"
        elif fn == "array_last" and len(args) == 1:
            rep = f"element_at({args[0]}, -1)"
        elif fn == "array_slice" and len(args) == 3:
            # BigQuery: 0-based inclusive start/end, negatives count
            # from the end, out-of-range indices clamp to the array
            a, s, e = args
            s1 = (
                f"IF(({s}) >= 0, ({s}) + 1, "
                f"greatest(size({a}) + ({s}) + 1, 1))"
            )
            e1 = (
                f"IF(({e}) >= 0, least(({e}) + 1, size({a})), "
                f"size({a}) + ({e}) + 1)"
            )
            rep = f"slice({a}, {s1}, greatest({e1} - {s1} + 1, 0))"
        elif fn in ("sha256", "sha512") and len(args) == 1:
            # BigQuery digests return BYTES; unhex(sha2 hex) restores the
            # binary type (TO_HEX(SHA*) keeps its direct hex mapping —
            # that rewrite runs before this one)
            rep = f"unhex(sha2({args[0]}, {fn[3:]}))"
        elif fn == "date_bucket" and len(args) in (2, 3):
            m_iv = re.match(
                r"INTERVAL\s+(\d+)\s+(DAY|WEEK)\b", args[1], re.IGNORECASE
            )
            if m_iv:
                nd = int(m_iv.group(1)) * (
                    7 if m_iv.group(2).upper() == "WEEK" else 1
                )
                o = args[2] if len(args) == 3 else "DATE '1950-01-01'"
                # exact integer math: start = d - ((d - origin) mod width)
                rep = f"date_sub({args[0]}, pmod(datediff({args[0]}, {o}), {nd}))"
        elif fn == "ml.distance" and len(args) in (2, 3):
            # BigQuery ML.DISTANCE(v1, v2[, 'EUCLIDEAN'|'MANHATTAN'|
            # 'COSINE']) — same HOF folds as VECTOR_SEARCH distances.
            # NOTE: BigQuery's COSINE type returns cosine DISTANCE
            # (1 - similarity), matching COSINE_DISTANCE.
            kind = (
                args[2].strip().strip("'\"").upper()
                if len(args) == 3
                else "EUCLIDEAN"
            )
            if kind not in ("EUCLIDEAN", "MANHATTAN", "COSINE"):
                raise ValueError(
                    f"ML.DISTANCE: unsupported distance type {kind!r}"
                )
            rep = f"CAST({_vs_distance(args[0], args[1], kind)} AS DOUBLE)"
        elif fn == "ml.bucketize" and len(args) == 2:
            # ML.BUCKETIZE(v, [s1, s2, ...]) -> 'bin_<k>' where k =
            # 1 + #(split points <= v): bin_1 below s1, bin_2 in
            # [s1, s2), ... (BigQuery's TRANSFORM-clause bucketizer).
            # The 3-arg exclude_boundaries form is not supported.
            # collision-proof lambda param (round-10 review wave 2):
            # bare `p` shadowed a user column named p referenced by the
            # embedded value expression — every non-NULL row landed in
            # the top bucket
            rep = (
                f"CASE WHEN ({args[0]}) IS NULL THEN CAST(NULL AS STRING)"
                f" ELSE concat('bin_', CAST(1 + size(filter({args[1]}, "
                f"__bk_p -> CAST(__bk_p AS DOUBLE)"
                f" <= CAST({args[0]} AS DOUBLE)))"
                f" AS STRING)) END"
            )
        elif fn == "ml.feature_cross" and len(args) == 1:
            m_st = re.match(
                r"STRUCT\s*\((.*)\)\s*$", args[0], re.IGNORECASE | re.DOTALL
            )
            if not m_st:
                raise ValueError(
                    "ML.FEATURE_CROSS takes STRUCT(col [AS name], ...)"
                )
            fields = []
            for f_raw in split_top_level(m_st.group(1)):
                f_raw = f_raw.strip()
                m_as = re.match(
                    r"(.+?)\s+AS\s+(\w+)\s*$", f_raw, re.IGNORECASE | re.DOTALL
                )
                if m_as:
                    fields.append((m_as.group(1).strip(), m_as.group(2)))
                elif re.match(r"[\w.]+$", f_raw):
                    fields.append((f_raw, f_raw.split(".")[-1]))
                else:
                    raise ValueError(
                        f"ML.FEATURE_CROSS: field {f_raw!r} needs an AS name"
                    )
            crossed = [
                f"concat(CAST({va} AS STRING), '_', CAST({vb} AS STRING))"
                f" AS {na}_{nb}"
                for i, (va, na) in enumerate(fields)
                for vb, nb in (fields[j] for j in range(i + 1, len(fields)))
            ]
            rep = f"struct({', '.join(crossed)})"
        elif fn == "ml.ngrams" and len(args) in (2, 3):
            m_rng = re.match(
                r"\s*array\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)\s*$",
                args[1],
                re.IGNORECASE,
            )
            if not m_rng:
                raise ValueError(
                    "ML.NGRAMS needs a literal [min, max] range"
                )
            mn = int(m_rng.group(1))
            mx = int(m_rng.group(2) or m_rng.group(1))
            sep = args[2] if len(args) == 3 else "' '"
            arr = args[0]
            # collision-proof lambda params: derived per call site so
            # they can never shadow identifiers in the embedded array/
            # separator expressions — a FIXED rename (round 10's
            # __ng_n/__ng_i) just moved the collision onto the new
            # names (round-11 verdict: columns named __ng_n/__ng_i
            # dropped n-grams)
            p_n, p_i = _fresh_lambda_params([arr, sep], "__ng_n", "__ng_i")
            rep = (
                f"flatten(transform(sequence({mn}, {mx}), {p_n} -> "
                f"CASE WHEN size({arr}) >= {p_n} THEN "
                f"transform(sequence(1, size({arr}) - {p_n} + 1), "
                f"{p_i} -> array_join("
                f"slice({arr}, {p_i}, {p_n}), {sep})) "
                f"ELSE CAST(array() AS ARRAY<STRING>) END))"
            )
        elif fn == "search" and len(args) == 2:
            # BigQuery full-text SEARCH(data, query): TRUE when every
            # token of the query appears among the data's tokens.
            # Tokenization mirrors the default LOG_ANALYZER closely:
            # lowercase, split on any non-alphanumeric rune (BigQuery's
            # delimiter list is punctuation + '_' + whitespace).
            # json_scope / analyzer named args are not supported — the
            # engine raises rather than silently diverging.
            # the lambda parameter must be collision-proof: a bare
            # `t ->` SHADOWED a user column named `t` referenced by the
            # data expression inside the lambda body, turning the
            # predicate vacuously TRUE (round-10 adversarial probe);
            # the fixed rename `__sq_tok` was shadowable the same way
            # (round-11 verdict), so the name is derived per call site
            (p_tok,) = _fresh_lambda_params(list(args), "__sq_tok")
            rep = (
                f"forall({_log_analyzer_tokens(args[1])}, "
                f"{p_tok} -> array_contains("
                f"{_log_analyzer_tokens(args[0])}, {p_tok}))"
            )
        elif fn == "search" and len(args) == 3:
            # named analyzer argument (BigQuery: SEARCH(data, query,
            # analyzer => '...')). LOG_ANALYZER is the 2-arg default;
            # NO_OP_ANALYZER does not tokenize — the WHOLE value must
            # equal the query exactly (BigQuery docs). PATTERN_ANALYZER
            # and json_scope stay unsupported (loud, not divergent).
            m_an = re.match(
                r"""\s*analyzer\s*=>\s*['"](\w+)['"]\s*$""",
                args[2],
                re.IGNORECASE,
            )
            if not m_an:
                raise ValueError(
                    "SEARCH: only the analyzer => '...' named argument"
                    " is supported (json_scope is not)"
                )
            an = m_an.group(1).upper()
            if an == "LOG_ANALYZER":
                (p_tok,) = _fresh_lambda_params(list(args), "__sq_tok")
                rep = (
                    f"forall({_log_analyzer_tokens(args[1])}, "
                    f"{p_tok} -> array_contains("
                    f"{_log_analyzer_tokens(args[0])}, {p_tok}))"
                )
            elif an == "NO_OP_ANALYZER":
                rep = f"({args[0]} = {args[1]})"
            else:
                raise ValueError(
                    f"SEARCH: unsupported analyzer {an!r}"
                    " (LOG_ANALYZER or NO_OP_ANALYZER)"
                )
        elif fn == "search" and len(args) > 3:
            raise ValueError(
                "SEARCH: json_scope/extra arguments are not supported"
            )
        elif fn == "text_analyze" and len(args) in (1, 2):
            # BigQuery TEXT_ANALYZE(text[, analyzer => '...']): the
            # token array the analyzer produces — LOG_ANALYZER default
            # (lowercase + split on non-alphanumeric runes, empties
            # dropped), NO_OP_ANALYZER the whole value as one token.
            an = "LOG_ANALYZER"
            if len(args) == 2:
                m_an = re.match(
                    r"""\s*analyzer\s*=>\s*['"](\w+)['"]\s*$""",
                    args[1],
                    re.IGNORECASE,
                )
                if not m_an:
                    raise ValueError(
                        "TEXT_ANALYZE: second argument must be"
                        " analyzer => '...'"
                    )
                an = m_an.group(1).upper()
            if an == "LOG_ANALYZER":
                rep = _log_analyzer_tokens(args[0])
            elif an == "NO_OP_ANALYZER":
                # null-propagating like the LOG path (BigQuery:
                # TEXT_ANALYZE(NULL) IS NULL — review finding r9). The
                # argument is evaluated ONCE (round-10 advisory: the
                # previous IF(arg IS NULL, ..., array(arg)) form
                # double-evaluated it — a non-deterministic expression
                # diverged): wrap it in a singleton array and map the
                # null/value cases through the lambda variable.
                rep = (
                    f"element_at(transform(array({args[0]}),"
                    f" x -> IF(x IS NULL, NULL, array(x))), 1)"
                )
            else:
                raise ValueError(
                    f"TEXT_ANALYZE: unsupported analyzer {an!r}"
                    " (LOG_ANALYZER or NO_OP_ANALYZER)"
                )
        elif fn in ("coth", "sech", "csch") and len(args) == 1:
            # hyperbolic reciprocals (no Spark builtins; tanh/cosh/sinh
            # are builtins, so these stay codegen'd expressions)
            base = {"coth": "tanh", "sech": "cosh", "csch": "sinh"}[fn]
            rep = f"(CAST(1 AS DOUBLE) / {base}({args[0]}))"
        elif fn in ("timestamp_bucket", "datetime_bucket") and len(args) in (2, 3):
            m_iv = re.match(
                r"INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY|WEEK)\b",
                args[1],
                re.IGNORECASE,
            )
            if m_iv:
                mult = {
                    "SECOND": 1, "MINUTE": 60, "HOUR": 3600,
                    "DAY": 86400, "WEEK": 604800,
                }[m_iv.group(2).upper()]
                w = int(m_iv.group(1)) * mult
                o = (
                    args[2]
                    if len(args) == 3
                    else "TIMESTAMP '1950-01-01 00:00:00'"
                )
                # CAST: unix_seconds rejects TIMESTAMP_NTZ (the parquet
                # corpus's type); under the engine's UTC session the
                # cast is value-preserving
                t = f"CAST({args[0]} AS TIMESTAMP)"
                oc = f"CAST({o} AS TIMESTAMP)"
                rep = (
                    f"timestamp_seconds(unix_seconds({t}) - "
                    f"pmod(unix_seconds({t}) - unix_seconds({oc}), {w}))"
                )
        elif fn == "json_array":
            rep = f"to_json(array({', '.join(args)}))"
        elif fn == "json_object" and len(args) % 2 == 0:
            if not args:
                rep = "'{}'"
            else:
                rep = f"to_json(named_struct({', '.join(args)}))"
        elif fn in ("int64", "float64", "bool") and len(args) == 1:
            t = {"int64": "BIGINT", "float64": "DOUBLE", "bool": "BOOLEAN"}[fn]
            rep = f"CAST(get_json_object({args[0]}, '$') AS {t})"
        elif fn in ("lax_int64", "lax_float64", "lax_bool") and len(args) == 1:
            t = {
                "lax_int64": "BIGINT",
                "lax_float64": "DOUBLE",
                "lax_bool": "BOOLEAN",
            }[fn]
            rep = f"TRY_CAST(get_json_object({args[0]}, '$') AS {t})"
        elif fn == "lax_string" and len(args) == 1:
            rep = f"get_json_object({args[0]}, '$')"
        elif fn == "any_value" and len(args) == 1:
            # BigQuery's HAVING MAX/MIN aggregate modifier -> max_by/min_by
            mh = re.match(
                r"(.+?)\s+HAVING\s+(MAX|MIN)\s+(.+)$",
                args[0],
                re.IGNORECASE | re.DOTALL,
            )
            if mh:
                by = "max_by" if mh.group(2).upper() == "MAX" else "min_by"
                rep = f"{by}({mh.group(1).strip()}, {mh.group(3).strip()})"
        if rep is None:
            continue
        out.append(sql[pos:start])
        out.append(rep)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_ignore_nulls(sql: str) -> str:
    """BigQuery puts ``IGNORE|RESPECT NULLS`` INSIDE the analytic call
    (``LAST_VALUE(x IGNORE NULLS) OVER ...``); Spark wants it after the
    argument list. Hoist it out for the navigation functions."""
    while True:
        hit = None
        for start, open_idx, end, fn in iter_calls(
            sql,
            (
                "FIRST_VALUE",
                "LAST_VALUE",
                "NTH_VALUE",
                "LEAD",
                "LAG",
                "ANY_VALUE",
            ),
        ):
            inner = sql[open_idx + 1 : end - 1]
            m = re.search(r"\s+(IGNORE|RESPECT)\s+NULLS\s*$", inner, re.IGNORECASE)
            if m:
                hit = (open_idx, end, inner[: m.start()], m.group(1).upper())
                break
        if hit is None:
            return sql
        open_idx, end, args, mode = hit
        sql = (
            sql[: open_idx + 1] + args + ") " + mode + " NULLS" + sql[end:]
        )


def _rewrite_percentile_window(sql: str) -> str:
    """BigQuery's 2-arg analytic ``PERCENTILE_CONT(x, p) OVER (spec)``
    -> Spark ``percentile(x, p) OVER (spec)`` (exact interpolated — the
    CONT contract); ``PERCENTILE_DISC(x, p) OVER (spec)`` -> the
    smallest x whose cumulative distribution reaches p, via a nested
    CUME_DIST window (BigQuery's OVER clause here admits only PARTITION
    BY, so appending ORDER BY x is safe)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql, ("PERCENTILE_CONT", "PERCENTILE_DISC")
    ):
        args = [a.strip() for a in split_top_level(sql[open_idx + 1 : end - 1])]
        if len(args) != 2:
            continue
        m = re.match(r"\s*OVER\s*\(", sql[end:], re.IGNORECASE)
        if not m:
            continue
        over_open = end + m.end() - 1
        over_end = balanced_end(sql, over_open)
        if over_end < 0:
            continue
        spec = sql[over_open + 1 : over_end - 1].strip()  # inside parens
        x, p = args
        if fn == "percentile_cont":
            rep = f"percentile({x}, {p}) OVER ({spec})"
        else:
            # BigQuery PERCENTILE_DISC ignores NULL values by default
            # (RESPECT NULLS is opt-in). CUME_DIST counts every row, so
            # NULLs would inflate the denominator; a cumulative COUNT(x)
            # over the x-ordered frame skips NULLs in both numerator and
            # denominator (COUNT(col) never counts NULL), matching the
            # NULL-ignoring PERCENTILE_CONT rewrite above.
            inner = f"({spec} ORDER BY {x})" if spec else f"(ORDER BY {x})"
            rep = (
                f"MIN(CASE WHEN CAST(COUNT({x}) OVER {inner} AS DOUBLE) "
                f"/ COUNT({x}) OVER ({spec}) >= ({p}) "
                f"THEN {x} END) OVER ({spec})"
            )
        out.append(sql[pos:start])
        out.append(rep)
        pos = over_end
    out.append(sql[pos:])
    return "".join(out)


_ML_PREP_REJECT = ("ML.LABEL_ENCODER", "ML.ONE_HOT_ENCODER",
                   "ML.MULTI_HOT_ENCODER", "ML.TF_IDF")


def _rewrite_ml_scalers(sql: str) -> str:
    """BigQuery analytic preprocessing functions (the CREATE MODEL
    TRANSFORM surface) -> window algebra:

    - ``ML.STANDARD_SCALER(x) OVER (spec)`` z-score (AVG/STDDEV_SAMP);
    - ``ML.MIN_MAX_SCALER(x) OVER (spec)`` [0,1] rescale;
    - ``ML.MAX_ABS_SCALER(x) OVER (spec)`` x / max(|x|);
    - ``ML.ROBUST_SCALER(x) OVER (spec)`` (x - median) / IQR;
    - ``ML.IMPUTER(x, 'mean'|'median'|'most_frequent') OVER (spec)``
      NULL fill (most_frequent ties pick Spark's mode() choice —
      BigQuery's tie is equally unspecified);
    - ``ML.QUANTILE_BUCKETIZE(x, nb) OVER (spec)`` equal-count bins
      via a NULL-ignoring cumulative count — 'bin_1'..'bin_nb', NULL
      in -> NULL out, exact-rank boundaries rather than BigQuery's
      APPROX_QUANTILES sketch (documented divergence; identical in
      both engines because ties share one cumulative count under the
      RANGE frame, independent of NULL sort order);

    and scalar forms:

    - ``ML.NORMALIZER(arr [, p])`` Lp-normalized array (p=2 default,
      p=0 -> Linf like BigQuery);
    - ``ML.HASH_BUCKETIZE(s, n)`` stable bucket in [0, n) via the
      engine's fingerprint hash (xxhash64 — same documented swap as
      FARM_BUCKETIZE's FARM_FINGERPRINT).
    - ``ML.POLYNOMIAL_EXPAND(arr [, degree])`` degree<=2 feature
      expansion: the input features followed by all pairwise products
      in index order (i<=j). The engine's output ORDER is documented
      here and consistent across train/predict, which is the property
      feature expansion needs; degree 3 raises rather than silently
      truncating.

    Vocabulary-building encoders (ML.LABEL_ENCODER / ONE_HOT / MULTI_HOT
    / TF_IDF) need a frequency-ranked dictionary. Inside a CREATE MODEL
    TRANSFORM clause the ML layer fits that vocabulary from the training
    input, persists it with the model, and replays it at predict
    (sql_ml._fit_vocab_encoders — VERDICT r5 #4); this pass only strips
    the analytic ``OVER (...)`` marker so the calls reach the ML layer
    as plain function calls. OUTSIDE a model clause they still raise a
    targeted error pointing at the operator-level equivalents
    (operators/text.tfidf_keywords, ml/estimators' StringIndexer path)
    instead of silently mis-encoding."""
    in_create_model = re.match(
        r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?MODEL\b", sql, re.IGNORECASE
    )
    enc_calls = list(
        iter_calls(sql, tuple(re.escape(b) for b in _ML_PREP_REJECT))
    )
    if enc_calls and not in_create_model:
        bad = enc_calls[0][3]
        raise ValueError(
            f"{bad.upper()} needs a frequency-ranked vocabulary: it is"
            " only valid inside CREATE MODEL TRANSFORM(...) (where the"
            " model fits and persists the vocabulary); standalone use ->"
            " text_tfidf / Spark ML StringIndexer-backed estimators,"
            " or materialize the vocabulary as a join"
        )
    for _start, _open, end, _fn in reversed(enc_calls):
        m_over = re.match(
            r"\s*OVER\s*\(\s*(?:ORDER\s+BY\s+1\s*)?\)", sql[end:],
            re.IGNORECASE,
        )
        if m_over:
            sql = sql[:end] + sql[end + m_over.end():]
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql,
        (
            r"ML\.STANDARD_SCALER", r"ML\.MIN_MAX_SCALER",
            r"ML\.MAX_ABS_SCALER", r"ML\.ROBUST_SCALER", r"ML\.IMPUTER",
            r"ML\.QUANTILE_BUCKETIZE", r"ML\.NORMALIZER",
            r"ML\.HASH_BUCKETIZE", r"ML\.POLYNOMIAL_EXPAND",
        ),
    ):
        args = [
            a.strip() for a in split_top_level(sql[open_idx + 1 : end - 1])
        ]
        x = args[0] if args else ""
        short = fn.split(".")[-1]
        if short == "polynomial_expand":
            degree = (args[1] if len(args) > 1 else "2").strip()
            if degree != "2":
                raise ValueError(
                    "ML.POLYNOMIAL_EXPAND: only degree 2 is implemented"
                )
            pairs = (
                f"flatten(transform(sequence(0, size({x}) - 1), _pi ->"
                f" transform(sequence(_pi, size({x}) - 1), _pj ->"
                f" CAST(get({x}, _pi) * get({x}, _pj) AS DOUBLE))))"
            )
            repl = (
                f"concat(transform({x}, _pe -> CAST(_pe AS DOUBLE)),"
                f" {pairs})"
            )
            out.append(sql[pos:start])
            out.append(repl)
            pos = end
            continue
        if short in ("normalizer", "hash_bucketize"):
            # scalar forms — no OVER clause
            if short == "normalizer":
                p = args[1] if len(args) > 1 else "2"
                if p.strip() == "0":
                    # CAST keeps decimal array literals from producing
                    # a decimal-typed quotient
                    norm = (
                        f"CAST(array_max(transform({x},"
                        f" __nrm_e -> abs(__nrm_e))) AS DOUBLE)"
                    )
                else:
                    norm = (
                        f"power(aggregate({x}, CAST(0 AS DOUBLE),"
                        f" (__nrm_a, __nrm_e) ->"
                        f" __nrm_a + power(abs(__nrm_e), {p})),"
                        f" 1.0 / {p})"
                    )
                # __-prefixed params: the embedded user expression {x}
                # inside the lambda body must not be shadow-captured
                rep = (
                    f"transform({x}, __nrm_e ->"
                    f" __nrm_e / NULLIF({norm}, 0))"
                )
            else:
                if len(args) != 2:
                    raise ValueError(
                        "ML.HASH_BUCKETIZE needs (expr, bucket_count)"
                    )
                rep = f"pmod(xxhash64({x}), {args[1]})"
            out.append(sql[pos:start])
            out.append(rep)
            pos = end
            continue
        m = re.match(r"\s*OVER\s*\(", sql[end:], re.IGNORECASE)
        if not m:
            continue
        over_open = end + m.end() - 1
        over_end = balanced_end(sql, over_open)
        if over_end < 0:
            continue
        spec = sql[over_open : over_end]  # includes parens
        if short == "standard_scaler":
            rep = (
                f"(({x}) - AVG({x}) OVER {spec}) / "
                f"NULLIF(STDDEV_SAMP({x}) OVER {spec}, 0)"
            )
        elif short == "min_max_scaler":
            rep = (
                f"(({x}) - MIN({x}) OVER {spec}) / "
                f"NULLIF(MAX({x}) OVER {spec} - MIN({x}) OVER {spec}, 0)"
            )
        elif short == "max_abs_scaler":
            rep = f"({x}) / NULLIF(MAX(ABS({x})) OVER {spec}, 0)"
        elif short == "robust_scaler":
            med = f"percentile({x}, 0.5) OVER {spec}"
            iqr = (
                f"(percentile({x}, 0.75) OVER {spec} -"
                f" percentile({x}, 0.25) OVER {spec})"
            )
            rep = f"(({x}) - {med}) / NULLIF({iqr}, 0)"
        elif short == "imputer":
            strategy = (args[1] if len(args) > 1 else "'mean'").strip(
                "'\""
            ).lower()
            if strategy == "mean":
                fill = f"AVG({x}) OVER {spec}"
            elif strategy == "median":
                fill = f"percentile({x}, 0.5) OVER {spec}"
            elif strategy == "most_frequent":
                fill = f"mode({x}) OVER {spec}"
            else:
                raise ValueError(
                    f"ML.IMPUTER: unknown strategy {strategy!r}"
                    " (mean/median/most_frequent)"
                )
            rep = f"coalesce({x}, {fill})"
        else:  # quantile_bucketize
            if len(args) != 2:
                raise ValueError(
                    "ML.QUANTILE_BUCKETIZE needs (expr, num_buckets)"
                )
            nb = args[1]
            interior = spec[1:-1].strip()
            # the generic empty-OVER() fill may have injected a
            # constant ordering; replace it with the value ordering
            interior = re.sub(
                r"\s*ORDER\s+BY\s+1\s*$", "", interior, flags=re.IGNORECASE
            )
            ospec = f"({interior} ORDER BY {x})"
            cnt_le = f"COUNT({x}) OVER {ospec}"
            cnt = f"COUNT({x}) OVER {spec}"
            rep = (
                f"CASE WHEN ({x}) IS NULL THEN NULL ELSE"
                f" CONCAT('bin_', CAST(least(CAST({nb} AS INT),"
                f" 1 + CAST(floor(({cnt_le} - 1) * ({nb}) / {cnt})"
                f" AS INT)) AS STRING)) END"
            )
        out.append(sql[pos:start])
        out.append(rep)
        pos = over_end
    out.append(sql[pos:])
    return "".join(out)


def _strip_json_typed_literals(sql: str) -> str:
    """``JSON '...'`` typed literal -> its bare string literal. The
    pattern spans a code region (the JSON keyword) and the following
    string region, so this walks the quote structure itself instead of
    going through ``sub_code``: the keyword is stripped only
    when it sits in CODE immediately before an opening quote — a string
    literal whose *content* contains ``JSON '...'``-shaped text is
    untouched."""

    def fn(code: str, lit: str) -> tuple[str, str]:
        if lit and lit[0] != "`":
            code = re.sub(r"\bJSON\s+$", "", code, flags=re.IGNORECASE)
        return code, lit

    return "".join(map("".join, starmap(fn, segments(sql))))


_FN_RENAME_MAP = dict(_FN_RENAMES)
#: one alternation over every renamed name (no Spark twin spells a
#: BigQuery name, so one pass equals renaming name by name)
_FN_RENAME_RE = re.compile(
    r"\b(" + "|".join(_FN_RENAME_MAP) + r")\s*\(", re.IGNORECASE
)


def _rewrite_fn_renames(sql: str) -> str:
    def sub(seg: str) -> str:
        seg = _FN_RENAME_RE.sub(
            lambda m: _FN_RENAME_MAP[m.group(1).upper()] + "(", seg
        )
        return re.sub(
            r"\bCURRENT_DATETIME\s*\(\s*\)", "current_timestamp()", seg,
            flags=re.IGNORECASE,
        )

    return sub_code(sql, sub)


_DIFF_PARTS = {
    "DAY", "WEEK", "MONTH", "QUARTER", "YEAR",
    "HOUR", "MINUTE", "SECOND", "MILLISECOND", "MICROSECOND",
}

# boundary-counting parts of DATE_DIFF/DATETIME_DIFF: BigQuery returns
# the number of PART BOUNDARIES crossed (DATE_DIFF('2024-01-01',
# '2023-12-31', YEAR) = 1), not Spark timestampdiff's whole intervals
_BOUNDARY_DIFF_PARTS = {"WEEK", "MONTH", "QUARTER", "YEAR", "ISOWEEK", "ISOYEAR"}


def _boundary_diff_expr(a: str, b: str, part: str) -> str | None:
    """Boundary-count expression for DATE_DIFF/DATETIME_DIFF parts, or
    None when the part isn't boundary-style. WEEK anchors on epoch-near
    start-day dates (1970-01-04 was a Sunday); floor-division handles
    pre-anchor dates."""
    def wk(anchor: str) -> str:
        return (
            f"CAST(floor(datediff(CAST({a} AS DATE), DATE '{anchor}') / 7)"
            f" - floor(datediff(CAST({b} AS DATE), DATE '{anchor}') / 7)"
            " AS BIGINT)"
        )

    if part == "YEAR":
        return f"CAST(year({a}) - year({b}) AS BIGINT)"
    if part == "ISOYEAR":
        return (
            f"CAST(extract(YEAROFWEEK FROM {a})"
            f" - extract(YEAROFWEEK FROM {b}) AS BIGINT)"
        )
    if part == "QUARTER":
        return (
            f"CAST((year({a}) * 4 + quarter({a}))"
            f" - (year({b}) * 4 + quarter({b})) AS BIGINT)"
        )
    if part == "MONTH":
        return (
            f"CAST((year({a}) * 12 + month({a}))"
            f" - (year({b}) * 12 + month({b})) AS BIGINT)"
        )
    if part == "ISOWEEK":
        return wk("1970-01-05")  # Monday boundaries
    m_wk = re.fullmatch(r"WEEK(?:\s*\(\s*(\w+)\s*\))?", part)
    if m_wk:
        day = (m_wk.group(1) or "SUNDAY").upper()
        if day not in _WEEKDAY_IDX:
            return None
        anchor = f"1970-01-{4 + _WEEKDAY_IDX[day]:02d}"
        return wk(anchor)
    return None


def _rewrite_datetime_diff(sql: str) -> str:
    """``DATE_DIFF/DATETIME_DIFF/TIMESTAMP_DIFF(end, start, PART)`` ->
    ``timestampdiff(PART, start, end)`` for exact-interval parts
    (BigQuery leads with the end point; Spark leads with the unit).
    DATE_DIFF/DATETIME_DIFF's WEEK[(<DAY>)]/ISOWEEK/MONTH/QUARTER/
    YEAR/ISOYEAR count PART BOUNDARIES (BigQuery's documented
    semantics) via explicit index arithmetic — timestampdiff's
    whole-interval meaning would silently undercount by up to one."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql, ("DATE_DIFF", "DATETIME_DIFF", "TIMESTAMP_DIFF")
    ):
        args = split_top_level(sql[open_idx + 1 : end - 1])
        if len(args) != 3:
            continue
        part = re.sub(r"\s+", "", args[2].strip().upper())
        a = _rewrite_datetime_diff(args[0].strip())
        b = _rewrite_datetime_diff(args[1].strip())
        rep = None
        if fn in ("date_diff", "datetime_diff"):
            rep = _boundary_diff_expr(a, b, part)
        if rep is None:
            if part not in _DIFF_PARTS:
                continue
            rep = f"timestampdiff({part}, {b}, {a})"
        out.append(sql[pos:start])
        out.append(rep)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


_WEEKDAY_IDX = {
    "SUNDAY": 0, "MONDAY": 1, "TUESDAY": 2, "WEDNESDAY": 3,
    "THURSDAY": 4, "FRIDAY": 5, "SATURDAY": 6,
}


def _rewrite_datetime_trunc(sql: str) -> str:
    """``DATE_TRUNC(d, PART)`` -> ``CAST(date_trunc('PART', d) AS DATE)``
    (BigQuery returns DATE); ``DATETIME_TRUNC/TIMESTAMP_TRUNC(x, PART)``
    -> ``date_trunc('PART', x)``. BigQuery puts the unit second, Spark
    first and quoted.

    WEEK semantics: BigQuery's bare ``WEEK`` starts SUNDAY while
    Spark's 'week' starts Monday — passing it through would silently
    shift every week bucket by a day. Bare WEEK / WEEK(<WEEKDAY>)
    compile to explicit start-day arithmetic (pmod over dayofweek);
    ``ISOWEEK`` and ``WEEK(MONDAY)`` map to Spark's Monday-start
    'WEEK' directly."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql, ("DATE_TRUNC", "DATETIME_TRUNC", "TIMESTAMP_TRUNC")
    ):
        args = split_top_level(sql[open_idx + 1 : end - 1])
        if len(args) != 2 or not re.fullmatch(
            r"\s*\w+\s*(\(\s*\w+\s*\))?\s*", args[1]
        ):
            continue
        part = args[1].strip().upper()
        expr = _rewrite_datetime_trunc(args[0].strip())
        m_wk = re.fullmatch(r"WEEK(?:\s*\(\s*(\w+)\s*\))?", part)
        if part == "ISOWEEK" or (m_wk and m_wk.group(1) == "MONDAY"):
            part, m_wk = "WEEK", None
        if m_wk:
            day = m_wk.group(1) or "SUNDAY"
            if day not in _WEEKDAY_IDX:
                raise ValueError(f"DATE_TRUNC: unknown weekday {day!r}")
            back = (
                f"pmod(dayofweek(CAST({expr} AS DATE)) - 1"
                f" - {_WEEKDAY_IDX[day]}, 7)"
            )
            if fn == "date_trunc":
                base = f"date_sub(CAST({expr} AS DATE), {back})"
            else:
                base = (
                    f"(date_trunc('DAY', {expr}) - make_dt_interval({back}))"
                )
        else:
            base = f"date_trunc('{part}', {expr})"
            if fn == "date_trunc":
                base = f"CAST({base} AS DATE)"
        out.append(sql[pos:start])
        out.append(base)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_parse_datetime(sql: str) -> str:
    """``PARSE_DATE('%fmt', s)`` -> ``to_date(s, 'spark fmt')``;
    PARSE_TIMESTAMP/PARSE_DATETIME -> to_timestamp. Reuses the strftime
    -> SimpleDateFormat table from FORMAT_DATE."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql,
        (
            r"SAFE\.PARSE_DATE",
            r"SAFE\.PARSE_TIMESTAMP",
            r"SAFE\.PARSE_DATETIME",
            "PARSE_DATE",
            "PARSE_TIMESTAMP",
            "PARSE_DATETIME",
        ),
    ):
        args = split_top_level(sql[open_idx + 1 : end - 1])
        if len(args) != 2:
            continue
        fmt_raw = args[0].strip()
        if not (fmt_raw[:1] in "'\"" and fmt_raw[-1:] == fmt_raw[:1]):
            continue
        fmt = _strftime_to_spark(fmt_raw[1:-1])
        fn = fn.replace(" ", "")
        safe = fn.startswith("safe.")
        # SAFE. prefix -> try_* twin (NULL instead of error on bad input)
        if fn.endswith("parse_date"):
            target = "try_to_date" if safe else "to_date"
        else:
            target = "try_to_timestamp" if safe else "to_timestamp"
        out.append(sql[pos:start])
        out.append(f"{target}({args[1].strip()}, '{fmt}')")
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_arith_fns(sql: str) -> str:
    """Two-arg arithmetic spellings Spark writes as operators or casts:
    ``DIV(x, y)`` -> ``(x DIV y)``; ``IEEE_DIVIDE(x, y)`` -> IEEE double
    division (inf/nan, never an error); ``UNIX_DATE(d)`` /
    ``DATE_FROM_UNIX_DATE(n)`` -> epoch-day arithmetic; two-arg
    ``LOG(x, base)`` (BigQuery: log of x to ``base``) -> the explicit
    ``ln(x)/ln(base)`` ratio — Spark's ``LOG(base, x)`` has REVERSED
    arguments (without a rewrite LOG(8, 2) silently returns 1/3
    instead of 3), and emitting a swapped LOG would be un-swapped by a
    second transpile (table-function bodies are transpiled at DDL time
    and again after call-site splicing); the ratio is bit-identical to
    Spark's builtin (which computes exactly this) and idempotent
    (1-arg LOG is ln in both dialects and passes through)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql, ("DIV", "IEEE_DIVIDE", "UNIX_DATE", "DATE_FROM_UNIX_DATE", "LOG")
    ):
        # recurse into the argument list first so nested spellings
        # (LOG(LOG(256, 2), 2), DIV(DIV(8, 2), 2)) are rewritten too
        inner = _rewrite_arith_fns(sql[open_idx + 1 : end - 1])
        args = [a.strip() for a in split_top_level(inner)]
        if fn == "div" and len(args) == 2:
            repl = f"({args[0]} DIV {args[1]})"
        elif fn == "log" and len(args) == 2:
            repl = f"(ln({args[0]}) / ln({args[1]}))"
        elif fn == "ieee_divide" and len(args) == 2:
            # Spark ANSI division errors on /0 for every numeric type;
            # IEEE wants x/0 -> ±Inf and 0/0 -> NaN, which x * Inf
            # reproduces exactly (negative-zero divisor maps to +Inf,
            # the one edge BigQuery would sign-flip)
            x = f"CAST({args[0]} AS DOUBLE)"
            y = f"CAST({args[1]} AS DOUBLE)"
            repl = (
                f"(CASE WHEN {y} = 0.0D THEN {x} * CAST('Infinity' AS DOUBLE)"
                f" ELSE {x} / {y} END)"
            )
        elif fn == "unix_date" and len(args) == 1:
            repl = f"datediff({args[0]}, DATE'1970-01-01')"
        elif fn == "date_from_unix_date" and len(args) == 1:
            repl = f"date_add(DATE'1970-01-01', CAST({args[0]} AS INT))"
        else:
            # arity with no rewrite (1-arg LOG = ln in both dialects):
            # keep the call but splice the recursed argument list back
            repl = sql[start : open_idx + 1] + inner + ")"
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


_REGEX_SPECIALS = r"\.^$|?*+()[]{}"


def _regex_group_count(pattern_literal: str) -> int:
    """Number of capturing groups in a regex given as a quoted SQL
    literal — '(' not escaped and not opening a (?...) construct."""
    body = pattern_literal[1:-1]
    n = 0
    i = 0
    while i < len(body):
        ch = body[i]
        if ch == "\\":
            i += 2
            continue
        if ch == "(" and body[i + 1 : i + 2] != "?":
            n += 1
        i += 1
    return n


def _rewrite_regexp_extract(sql: str) -> str:
    """BigQuery ``REGEXP_EXTRACT[_ALL](x, p)`` returns the capturing
    group if the pattern has one, else the whole match, and NULL when
    nothing matches. Spark's twins demand an explicit group index and
    return '' on no match — so pick the index from the (literal) pattern
    and NULLIF the miss. (Empty-string matches also become NULL — the
    one documented divergence.) Non-literal patterns get group 0."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql, ("REGEXP_EXTRACT_ALL", "REGEXP_EXTRACT", "REGEXP_SUBSTR")
    ):
        args = [a.strip() for a in split_top_level(sql[open_idx + 1 : end - 1])]
        if len(args) != 2:
            continue
        pat = args[1]
        grp = 0
        if pat[:1] in "'\"" and pat[-1:] == pat[:1]:
            grp = 1 if _regex_group_count(pat) >= 1 else 0
        if fn == "regexp_extract_all":
            repl = f"regexp_extract_all({args[0]}, {args[1]}, {grp})"
        else:
            repl = f"nullif(regexp_extract({args[0]}, {args[1]}, {grp}), '')"
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


# BigQuery INITCAP's DEFAULT delimiter set (docs: string functions) —
# whitespace plus the listed punctuation; Spark's initcap only splits
# on whitespace, so INITCAP('hello-world') would diverge ('Hello-world'
# vs BigQuery's 'Hello-World')
_INITCAP_DELIMS = (
    # \\u000C = form feed (Spark string literals have no \\f escape —
    # it would land as a literal 'f' in the class)
    " \\t\\n\\u000C\\r\\\\[\\\\](){}/|\\\\\\\\<>!?@\"^#$&~_,.:;*%+\\\\-"
)


def _unescape_string_literal(body: str) -> str:
    """Minimal C-style unescape for the TEXT between a SQL literal's
    quotes (Spark and BigQuery share the escape rules this cares
    about): ``\\\\``/``\\'``/``\\"`` and the common control escapes;
    an unknown escape passes the escaped character through, matching
    Spark's lexer."""
    esc = {
        "n": "\n",
        "t": "\t",
        "r": "\r",
        "b": "\b",
        "f": "\f",
        "0": "\0",
        "\\": "\\",
        "'": "'",
        '"': '"',
    }
    out: list[str] = []
    i = 0
    while i < len(body):
        ch = body[i]
        if ch == "\\" and i + 1 < len(body):
            out.append(esc.get(body[i + 1], body[i + 1]))
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _initcap_delim_class(raw: str) -> str:
    """Character-class TEXT (to splice inside ``'[...]'`` in Spark SQL)
    matching exactly the runtime characters in ``raw``. Every
    non-alphanumeric character is backslash-escaped at the REGEX level
    (Java allows escaping any punctuation; this neutralizes class
    metacharacters like ``] - ^ &``), which is two parse layers deep:
    the Spark string-literal parse eats one backslash, the regex engine
    the next — so the TEXT carries doubled backslashes. A quote also
    needs the literal-level ``\\'`` escape to keep the SQL string
    intact."""
    parts: list[str] = []
    for c in raw:
        if c.isalnum():
            parts.append(c)
        elif c == "\\":
            parts.append("\\\\\\\\")  # text \\\\ -> literal \\ -> regex \
        elif c == "'":
            parts.append("\\\\\\'")  # text \\\' -> literal \' -> regex '
        elif c == "\t":
            parts.append("\\\\t")
        elif c == "\n":
            parts.append("\\\\n")
        elif c == "\r":
            parts.append("\\\\r")
        elif c == "\f":
            parts.append("\\u000C")
        elif c == "\0":
            parts.append("\\u0000")
        else:
            parts.append("\\\\" + c)
    return "".join(parts)


def _rewrite_initcap(sql: str) -> str:
    """``INITCAP(value)`` with BigQuery's default-delimiter semantics:
    lowercase everything, uppercase the first character after any
    delimiter (or at the start) — a single JVM char fold, no UDF. The
    two-argument (custom delimiters) form rewrites with the literal's
    characters instead, each regex-escaped for the string-literal+regex
    double parse (ADVICE r7: the previous escape pattern was a no-op,
    so ``]``/``\\`` delimiters produced invalid Java regexes) and
    matched CASE-SENSITIVELY against the ORIGINAL character (BigQuery
    matches delimiters against the raw string; a delimiter that is
    itself a letter still lowercases in the output — documented
    divergence only for that exotic case). Empty delimiters = no word
    breaks: only the first character capitalizes. Spark's own initcap
    (whitespace-only words) stays for nothing — BigQuery scripts always
    mean BigQuery's delimiters."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("INITCAP",)):
        args = [
            a.strip() for a in split_top_level(sql[open_idx + 1 : end - 1])
        ]
        if len(args) not in (1, 2):
            continue
        if len(args) == 2:
            d = args[1]
            if not (d[:1] in "'\"" and d[-1:] == d[:1]):
                continue  # non-literal delimiters: leave untouched
            raw = _unescape_string_literal(d[1:-1])
            up_expr = (
                f"ch RLIKE '[{_initcap_delim_class(raw)}]'"
                if raw
                else "false"  # '[]' is an invalid (empty) Java class
            )
        else:
            up_expr = f"ch RLIKE '[{_INITCAP_DELIMS}]'"
        v = args[0]
        repl = (
            f"aggregate(split({v}, ''),"
            f" named_struct('s', '', 'up', true),"
            f" (acc, ch) -> named_struct("
            f"'s', concat(acc.s, CASE WHEN acc.up THEN upper(ch)"
            f" ELSE lower(ch) END),"
            f" 'up', {up_expr}),"
            f" acc -> acc.s)"
        )
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_regexp_instr(sql: str) -> str:
    """BigQuery ``REGEXP_INSTR(value, regexp[, position[, occurrence[,
    occurrence_position]]])``: 1-based match position. Spark's
    regexp_instr shares the 2-arg shape, but its THIRD argument is a
    group index, not a start position — so the position form rewrites
    structurally (search the suffix, re-offset, 0 stays 0) and the
    occurrence forms raise with a pointer (no per-match positions in
    Spark's expression surface). BigQuery guard rails (ADVICE r7):
    position < 1 is a BigQuery ERROR — a literal raises at transpile
    time, an expression raises at query time (Spark substr semantics
    would otherwise yield silent off-by-one results); a
    ``'^'``-anchored LITERAL pattern with position > 1 raises too,
    because BigQuery anchors ``^`` to the ORIGINAL string start while
    the suffix rewrite would anchor it at ``position`` (a non-literal
    pattern starting with ``^`` cannot be detected — documented
    divergence)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("REGEXP_INSTR",)):
        args = [
            a.strip() for a in split_top_level(sql[open_idx + 1 : end - 1])
        ]
        if len(args) <= 2:
            continue  # 2-arg shape matches Spark's exactly
        if len(args) > 3:
            raise ValueError(
                "REGEXP_INSTR: the occurrence/occurrence_position"
                " arguments are not supported (Spark exposes no"
                " per-match positions) — restructure with"
                " REGEXP_EXTRACT_ALL"
            )
        v, p, posn = args
        anchored = p[:1] in "'\"" and p[1:2] == "^"
        m_int = re.match(r"^[+-]?\d+$", posn)
        if m_int:
            if int(posn) < 1:
                raise ValueError(
                    "REGEXP_INSTR: position must be >= 1"
                    " (BigQuery raises OUT_OF_RANGE)"
                )
            if int(posn) == 1:
                # identical to the 2-arg shape — no suffix arithmetic,
                # and '^' anchoring is exact
                repl = f"regexp_instr({v}, {p})"
                out.append(sql[pos:start])
                out.append(repl)
                pos = end
                continue
        if anchored:
            raise ValueError(
                "REGEXP_INSTR: a '^'-anchored pattern with a position"
                " argument anchors to the ORIGINAL string start in"
                " BigQuery (position > 1 never matches) — drop the"
                " anchor or the position argument"
            )
        guard = (
            ""
            if m_int
            else (
                f" WHEN ({posn}) < 1 THEN CAST(raise_error("
                f"'REGEXP_INSTR: position must be >= 1') AS INT)"
            )
        )
        repl = (
            f"(CASE{guard}"
            f" WHEN regexp_instr(substr({v}, {posn}), {p}) = 0"
            f" THEN 0 ELSE ({posn}) - 1"
            f" + regexp_instr(substr({v}, {posn}), {p}) END)"
        )
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_regexp_replace(sql: str) -> str:
    """BigQuery ``REGEXP_REPLACE`` replacement strings use ``\\1``
    backreferences; Java's (Spark's) use ``$1`` and treat ``\\1`` as a
    literal. Rewrite literal replacement args: ``\\N`` -> ``$N`` and
    escape pre-existing ``$``. (Raw strings were already unquoted to
    doubled backslashes by _rewrite_raw_strings.)"""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("REGEXP_REPLACE",)):
        args = [a.strip() for a in split_top_level(sql[open_idx + 1 : end - 1])]
        if len(args) != 3:
            continue
        rep = args[2]
        if not (rep[:1] in "'\"" and rep[-1:] == rep[:1]):
            continue
        # "$" must reach Java as "\$": SQL-literal form "\\$"
        body = rep[1:-1].replace("$", "\\\\$")
        body = re.sub(r"\\\\(\d)", r"$\1", body)
        out.append(sql[pos:start])
        out.append(f"regexp_replace({args[0]}, {args[1]}, '{body}')")
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_least_greatest(sql: str) -> str:
    """BigQuery ``LEAST``/``GREATEST`` return NULL if ANY argument is
    NULL; Spark's skip NULLs. Guard with an any-null CASE."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(sql, ("LEAST", "GREATEST")):
        inner = _rewrite_least_greatest(sql[open_idx + 1 : end - 1])
        args = [a.strip() for a in split_top_level(inner)]
        if len(args) < 2:
            continue
        null_checks = " OR ".join(f"({a}) IS NULL" for a in args)
        out.append(sql[pos:start])
        out.append(
            f"(CASE WHEN {null_checks} THEN NULL"
            f" ELSE {fn}({', '.join(args)}) END)"
        )
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_to_hex(sql: str) -> str:
    """``TO_HEX(MD5(x))`` -> ``md5(x)`` / ``TO_HEX(SHA256(x))`` ->
    ``sha2(x, 256)`` (Spark's digest builtins already emit lowercase hex
    strings, where BigQuery's return BYTES); general ``TO_HEX(b)`` ->
    ``lower(hex(b))`` (Spark hex() is uppercase, BigQuery lowercase)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("TO_HEX",)):
        inner = sql[open_idx + 1 : end - 1].strip()
        m = re.match(r"(MD5|SHA1|SHA256|SHA512)\s*\(", inner, re.IGNORECASE)
        if m and balanced_end(inner, m.end() - 1) == len(inner):
            arg = inner[m.end() : len(inner) - 1]
            digest = m.group(1).upper()
            if digest == "MD5":
                repl = f"md5({arg})"
            elif digest == "SHA1":
                repl = f"sha1({arg})"
            else:
                repl = f"sha2({arg}, {digest[3:]})"
        else:
            repl = f"lower(hex({inner}))"
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


_ARRAY_AGG_TAIL_RE = re.compile(
    r"^(?P<distinct>DISTINCT\s+)?(?P<body>.*)$", re.IGNORECASE | re.DOTALL
)


def _rewrite_array_agg(sql: str) -> str:
    """BigQuery ``ARRAY_AGG([DISTINCT] x [IGNORE NULLS] [ORDER BY o
    [ASC|DESC]] [LIMIT n])`` -> collect_list/collect_set compositions:
    the ORDER BY becomes an array_sort over (o, x) structs projected
    back to x (DESC = reverse), LIMIT becomes slice. Spark's collectors
    always drop NULLs, which matches the IGNORE NULLS form (BigQuery
    without it errors on NULL input — scripts relying on that error
    don't exist in practice)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("ARRAY_AGG",)):
        inner = _rewrite_array_agg(sql[open_idx + 1 : end - 1].strip())
        m = _ARRAY_AGG_TAIL_RE.match(inner)
        distinct = bool(m.group("distinct"))
        body = m.group("body")
        limit = None
        m_lim = re.search(r"\bLIMIT\s+(\d+)\s*$", body, re.IGNORECASE)
        if m_lim and find_top_level(
            body, re.compile(r"\bLIMIT\b", re.IGNORECASE), m_lim.start()
        ):
            body, limit = body[: m_lim.start()].rstrip(), int(m_lim.group(1))
        order_expr = direction = None
        m_ord = find_top_level(body, re.compile(r"\bORDER\s+BY\b", re.IGNORECASE))
        if m_ord:
            tail = body[m_ord.end() :].strip()
            body = body[: m_ord.start()].rstrip()
            m_dir = re.search(r"\s+(ASC|DESC)\s*$", tail, re.IGNORECASE)
            if m_dir:
                direction = m_dir.group(1).upper()
                tail = tail[: m_dir.start()].strip()
            order_expr = tail
        ignore = re.search(r"\s+IGNORE\s+NULLS\s*$", body, re.IGNORECASE)
        if ignore:
            body = body[: ignore.start()].rstrip()
        expr = body.strip()
        agg = f"collect_set({expr})" if distinct else f"collect_list({expr})"
        if order_expr is not None:
            if order_expr == expr or distinct:
                agg = f"array_sort({agg})"
            else:
                agg = (
                    f"transform(array_sort(collect_list("
                    f"struct({order_expr} AS _o, {expr} AS _v))), s -> s._v)"
                )
            if direction == "DESC":
                agg = f"reverse({agg})"
        if limit is not None:
            agg = f"slice({agg}, 1, {limit})"
        out.append(sql[pos:start])
        out.append(agg)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_split(sql: str) -> str:
    """BigQuery ``SPLIT(v[, delim])`` treats the delimiter as a LITERAL
    (default ','); Spark's ``split`` takes a regex. When the delimiter is
    a quoted literal, escape regex metacharacters so e.g.
    ``SPLIT(host, '.')`` splits on dots instead of on every character
    (ref: output.sql:4 ``SPLIT(table_id, "events_")``). Non-literal
    delimiters pass through unchanged (already regex-safe only if the
    caller made them so)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("SPLIT",)):
        args = [a.strip() for a in split_top_level(sql[open_idx + 1 : end - 1])]
        if len(args) == 1:
            repl = f"split({args[0]}, ',')"
        elif len(args) == 2 and args[1][:1] in "'\"" and args[1][-1:] == args[1][:1]:
            body = args[1][1:-1]
            esc = "".join(
                ("\\\\" + ch) if ch in _REGEX_SPECIALS else ch for ch in body
            ).replace("'", "\\'")
            repl = f"split({args[0]}, '{esc}')"
        else:
            continue
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_hll_family(sql: str, approx: bool = False) -> str:
    """BigQuery sketch aggregates -> a deterministic set algebra, or
    (``approx=True``) Spark's native Apache DataSketches HLL builtins.

    BigQuery's contract for these is "an approximation of COUNT
    (DISTINCT ...)": any estimator with bounded error satisfies it, and
    the zero-error estimator is cross-engine reproducible, so the
    DEFAULT implements the sketch algebra over exact distinct sets:

      HLL_COUNT.INIT(x)        -> collect_set(x)        (the "sketch")
      HLL_COUNT.MERGE_PARTIAL  -> distinct union of sketches
      HLL_COUNT.MERGE          -> size of the distinct union
      HLL_COUNT.EXTRACT        -> size(sketch)          (scalar)
      APPROX_COUNT_DISTINCT(x) -> count(DISTINCT x)

    Catalyst still computes these with partial (map-side) aggregation,
    but ``HLL_COUNT.INIT`` materializes the full distinct set per group
    — unbounded memory at 100 TB cardinalities. The SCALE PATH
    (``approx=True``, the executor's ``approx_sketches`` script option)
    swaps the rewrite to constant-memory sketches:

      HLL_COUNT.INIT(x[, p])   -> hll_sketch_agg(x[, p])   (binary)
      HLL_COUNT.MERGE_PARTIAL  -> hll_union_agg(s, true)   (binary)
      HLL_COUNT.MERGE          -> hll_sketch_estimate(hll_union_agg(...))
      HLL_COUNT.EXTRACT        -> hll_sketch_estimate(s)
      APPROX_COUNT_DISTINCT(x) -> approx_count_distinct(x) (HLL++)

    Same algebra, bounded ~2^p registers per group, but engine-specific
    sketch bytes — not oracle-reproducible, which is why approx is the
    option and exact is the default (test_hll_approx_* assert the two
    paths agree within HLL error bounds)."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql,
        (
            r"HLL_COUNT\.INIT",
            r"HLL_COUNT\.MERGE_PARTIAL",
            r"HLL_COUNT\.MERGE",
            r"HLL_COUNT\.EXTRACT",
            "APPROX_COUNT_DISTINCT",
        ),
    ):
        args = [
            _rewrite_hll_family(a.strip(), approx)
            for a in split_top_level(sql[open_idx + 1 : end - 1])
        ]
        fn = fn.replace(" ", "")
        rep = None
        if fn == "hll_count.init" and len(args) >= 1:
            if approx:
                # BigQuery precision (2nd arg, 10..24) maps onto the
                # DataSketches lgConfigK parameter (clamped to its 4..21)
                p = f", least(21, greatest(4, {args[1]}))" if len(args) > 1 else ""
                rep = f"hll_sketch_agg({args[0]}{p})"
            else:
                rep = f"collect_set({args[0]})"
        elif fn == "hll_count.merge_partial" and len(args) == 1:
            rep = (
                f"hll_union_agg({args[0]}, true)"
                if approx
                else f"array_distinct(flatten(collect_list({args[0]})))"
            )
        elif fn == "hll_count.merge" and len(args) == 1:
            rep = (
                f"hll_sketch_estimate(hll_union_agg({args[0]}, true))"
                if approx
                else (
                    f"CAST(size(array_distinct(flatten(collect_list({args[0]}"
                    ")))) AS BIGINT)"
                )
            )
        elif fn == "hll_count.extract" and len(args) == 1:
            rep = (
                f"hll_sketch_estimate({args[0]})"
                if approx
                else f"CAST(size({args[0]}) AS BIGINT)"
            )
        elif fn == "approx_count_distinct" and len(args) == 1:
            rep = (
                f"approx_count_distinct({args[0]})"
                if approx
                else f"count(DISTINCT {args[0]})"
            )
        if rep is None:
            continue
        out.append(sql[pos:start])
        out.append(rep)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_kll_family(sql: str, approx: bool = False) -> str:
    """BigQuery KLL_QUANTILES.* sketch aggregates -> a deterministic
    sorted-multiset algebra, or (``approx=True``) Spark's native Apache
    DataSketches KLL builtins.

    Same two-path contract as ``_rewrite_hll_family``: BigQuery promises
    "approximate quantiles", the zero-error estimator satisfies that and
    is cross-engine reproducible, so the DEFAULT carries the sorted
    value multiset as the "sketch":

      KLL_QUANTILES.INIT_INT64(x[, p])    -> array_sort(collect_list(x))
      KLL_QUANTILES.MERGE_PARTIAL(s)      -> sorted flatten of sketches
      KLL_QUANTILES.MERGE_INT64(s, n)     -> n+1 boundaries over the
                                             union (min .. max, ranks
                                             i*(len-1) DIV n — integer
                                             math, oracle-exact)
      KLL_QUANTILES.EXTRACT_INT64(s, n)   -> same boundaries, one sketch
      KLL_QUANTILES.MERGE_POINT_INT64(s, phi)   -> value at rank
                                             max(ceil(phi*len), 1)
      KLL_QUANTILES.EXTRACT_POINT_INT64(s, phi) -> same, one sketch

    The SCALE PATH swaps in constant-memory DataSketches KLL state
    (kll_sketch_agg_* / kll_merge_agg_* / kll_sketch_get_quantile_*);
    BigQuery precision (default 1000) maps onto the KLL k parameter.
    The boundary forms need a literal division count there (the merged
    sketch is probed once per boundary); non-literal n raises a
    targeted error rather than silently degrading. FLOAT64 variants map
    to the _double twins."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql,
        (
            r"KLL_QUANTILES\.INIT_INT64",
            r"KLL_QUANTILES\.INIT_FLOAT64",
            r"KLL_QUANTILES\.MERGE_PARTIAL",
            r"KLL_QUANTILES\.MERGE_POINT_INT64",
            r"KLL_QUANTILES\.MERGE_POINT_FLOAT64",
            r"KLL_QUANTILES\.MERGE_INT64",
            r"KLL_QUANTILES\.MERGE_FLOAT64",
            r"KLL_QUANTILES\.EXTRACT_POINT_INT64",
            r"KLL_QUANTILES\.EXTRACT_POINT_FLOAT64",
            r"KLL_QUANTILES\.EXTRACT_INT64",
            r"KLL_QUANTILES\.EXTRACT_FLOAT64",
        ),
    ):
        args = [
            _rewrite_kll_family(a.strip(), approx)
            for a in split_top_level(sql[open_idx + 1 : end - 1])
        ]
        fn = fn.replace(" ", "")
        suffix = "double" if fn.endswith("float64") else "bigint"
        base = fn[len("kll_quantiles."):]
        for t in ("_int64", "_float64"):
            base = base.replace(t, "")
        rep = None

        def _boundaries_exact(arr: str, n: str) -> str:
            (p_i,) = _fresh_lambda_params([arr, n], "__i")
            return (
                f"transform(sequence(0, {n}), {p_i} -> element_at({arr}, "
                f"CAST({p_i} * (size({arr}) - 1) DIV ({n}) AS INT) + 1))"
            )

        def _point_exact(arr: str, phi: str) -> str:
            return (
                f"element_at({arr}, greatest(CAST(ceil(({phi}) * "
                f"size({arr})) AS INT), 1))"
            )

        def _boundaries_approx(sk: str, n: str) -> str:
            if not re.fullmatch(r"\d+", n.strip()):
                raise ValueError(
                    "KLL_QUANTILES boundary forms need a literal integer "
                    "division count under approx_sketches"
                )
            k = int(n)
            probes = ", ".join(
                f"kll_sketch_get_quantile_{suffix}({sk}, "
                f"CAST({i} AS DOUBLE) / {k})"
                for i in range(k + 1)
            )
            return f"array({probes})"

        merged_exact = None
        if args:
            merged_exact = (
                f"array_sort(flatten(collect_list({args[0]})))"
            )
        if base == "init" and len(args) >= 1:
            if approx:
                p = (
                    f", least(65535, greatest(8, {args[1]}))"
                    if len(args) > 1
                    else ""
                )
                rep = f"kll_sketch_agg_{suffix}({args[0]}{p})"
            else:
                rep = f"array_sort(collect_list({args[0]}))"
        elif base == "merge_partial" and len(args) == 1:
            rep = (
                f"kll_merge_agg_{suffix}({args[0]})"
                if approx
                else merged_exact
            )
        elif base == "merge_point" and len(args) == 2:
            rep = (
                f"kll_sketch_get_quantile_{suffix}("
                f"kll_merge_agg_{suffix}({args[0]}), {args[1]})"
                if approx
                else _point_exact(merged_exact, args[1])
            )
        elif base == "extract_point" and len(args) == 2:
            rep = (
                f"kll_sketch_get_quantile_{suffix}({args[0]}, {args[1]})"
                if approx
                else _point_exact(f"({args[0]})", args[1])
            )
        elif base == "merge" and len(args) == 2:
            rep = (
                _boundaries_approx(
                    f"kll_merge_agg_{suffix}({args[0]})", args[1]
                )
                if approx
                else _boundaries_exact(merged_exact, args[1])
            )
        elif base == "extract" and len(args) == 2:
            rep = (
                _boundaries_approx(args[0], args[1])
                if approx
                else _boundaries_exact(f"({args[0]})", args[1])
            )
        if rep is None:
            continue
        out.append(sql[pos:start])
        out.append(rep)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_approx_quantiles(sql: str) -> str:
    """``APPROX_QUANTILES(x, n)`` (n literal) -> ``approx_percentile(x,
    array(0, 1/n, ..., 1))`` — same n+1-point quantile vector shape."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("APPROX_QUANTILES",)):
        args = [a.strip() for a in split_top_level(sql[open_idx + 1 : end - 1])]
        if len(args) != 2 or not args[1].isdigit():
            continue
        n = int(args[1])
        if not 1 <= n <= 1000:
            continue
        fracs = ", ".join(f"{i}/{n}D" for i in range(n + 1))
        out.append(sql[pos:start])
        out.append(f"approx_percentile({args[0]}, array({fracs}))")
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_farm_fingerprint(sql: str) -> str:
    """``FARM_FINGERPRINT(x)`` -> 60-bit md5-prefix hash, the same
    expression as ``functions.hash_str`` (ref: model_bqml.sql:97-100
    uses it only for MOD-100 splits, where any stable uniform hash has
    identical semantics). Balanced-paren scan: the argument may itself
    contain calls."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("FARM_FINGERPRINT",)):
        arg = sql[open_idx + 1 : end - 1].strip()
        out.append(sql[pos:start])
        out.append(
            "CAST(CONV(SUBSTR(MD5(CAST(" + arg + " AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        )
        pos = end
    out.append(sql[pos:])
    return "".join(out)


_SELECT_OPEN_RE = re.compile(r"^\(\s*SELECT\s+", re.IGNORECASE)
_FROM_UNNEST_RE = re.compile(r"\bFROM\s+UNNEST\s*\(", re.IGNORECASE)

# a word here after UNNEST(...) is the next CLAUSE, not an alias
_UNNEST_STOP_WORDS = frozenset(
    {
        "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION",
        "QUALIFY", "WINDOW", "ON", "JOIN", "LEFT", "RIGHT", "FULL",
        "INNER", "CROSS", "EXCEPT", "INTERSECT", "WITH", "AND", "OR",
        "THEN", "ELSE", "END", "DO", "SELECT", "FOR", "USING",
    }
)
_FROM_RE = re.compile(r"\bFROM\b", re.IGNORECASE)


def _rewrite_elem_refs(expr: str, alias: str | None, var: str) -> str:
    """Rewrite array-element references inside a correlated UNNEST
    subquery to the HOF lambda variable: ``alias.f`` -> ``var.f``, and
    the GA4 ``event_params`` element fields ``key`` / ``value`` when
    they appear unqualified (ref: model_bqml.sql:224-246 uses bare
    ``key``/``value`` for the unnested element while outer columns stay
    ``e.``-qualified)."""
    if alias:
        expr = sub_code(
            expr,
            lambda seg: re.sub(
                rf"\b{re.escape(alias)}\s*\.", f"{var}.", seg
            ),
        )
        # the BARE alias is the element itself (SELECT u FROM
        # UNNEST(arr) AS u) — substitute it too, skipping function
        # calls named like the alias; string-literal contents stay
        # untouched (a literal 'u' is data, not a reference)
        expr = sub_code(
            expr,
            lambda seg: re.sub(
                rf"(?<![\w.$]){re.escape(alias)}\b(?!\s*[.(])", var, seg
            ),
        )
    expr = sub_code(
        expr,
        lambda seg: re.sub(r"(?<![\w.$])(key|value)\b", rf"{var}.\1", seg),
    )
    # un-rewrite doubles like var.value created from an already-qualified
    # var.value (alias pass already prefixed)
    expr = expr.replace(f"{var}.{var}.", f"{var}.")
    return expr


def _rewrite_correlated_unnest(sql: str) -> str:
    """Scalar subquery over a row's array ->  higher-order expression:

      (SELECT e FROM UNNEST(arr) [AS a] [WHERE c])
        -> get(transform(filter(arr, __u -> c), __u -> e), 0)

    Matches BigQuery's semantics for the reference's usage (at most one
    array element matches, so first-match == the scalar; with >1 match
    BigQuery would error while this picks the first — documented
    divergence). NULL when nothing matches, which is what SUM/IFNULL
    over the subquery rely on (ref: model_bqml.sql:220-253)."""
    out: list[str] = []
    pos = 0
    masked = mask(sql)
    i = 0
    while (i := masked.find("(", i)) >= 0:
        # relational positions are NOT scalar subqueries: a CTE
        # definition (WITH v AS (...)) or a derived table
        # (FROM (...) / JOIN (...)) must keep its SELECT intact.
        # The lookbehind window is bounded (keyword + one preceding
        # char + whitespace) so the pass stays O(n); a cut mid-
        # identifier can only SKIP a rewrite, never corrupt one
        if re.search(
            r"\b(AS|FROM|JOIN)\s*$",
            sql[max(pos, i - 8) : i],
            re.IGNORECASE,
        ):
            i += 1
            continue
        end = balanced_end(sql, i)
        if end > 0:
            sub = sql[i:end]
            m_sel = _SELECT_OPEN_RE.match(sub)
            # the subquery's own top-level FROM (depth 1 inside the
            # wrapping paren == depth 0 of the body) must be an
            # UNNEST — a non-greedy regex would cross nested parens
            body = sub[1:-1]
            m_from = (
                find_top_level(body, _FROM_RE, m_sel.end() - 1)
                if m_sel
                else None
            )
            m = (
                _FROM_UNNEST_RE.match(body, m_from.start())
                if m_from is not None
                else None
            )
            if m:
                sel_text = body[m_sel.end() - 1 : m_from.start()].strip()
                arr_open = m.end()  # index in body of char after '('
                arr_end = balanced_end(body, arr_open - 1)
                arr = body[arr_open:arr_end - 1].strip()
                rest = body[arr_end:].strip()
                alias = None
                m_alias = re.match(r"^(?:AS\s+)?(\w+)", rest, re.IGNORECASE)
                if m_alias and m_alias.group(1).upper() not in ("WHERE",):
                    alias = m_alias.group(1)
                    rest = rest[m_alias.end() :].strip()
                cond = None
                m_where = re.match(r"^WHERE\b", rest, re.IGNORECASE)
                if m_where:
                    cond = rest[m_where.end() :].strip()
                elif rest:
                    # GROUP BY / JOIN / ... — not the scalar shape;
                    # leave for the lateral rewrite
                    out.append(sql[pos:end])
                    pos = end
                    i = end
                    continue
                sel = _rewrite_correlated_unnest(sel_text)
                # derived per site (round 11): the fixed `__u` was
                # shadowable by a same-named outer column exactly
                # like the SEARCH/NGRAMS params were
                var, v_nn, v_acc, v_x = _fresh_lambda_params(
                    [arr, sel, cond or ""],
                    "__u", "__nn", "__acc", "__x",
                )
                sel_r = _rewrite_elem_refs(sel, alias, var)
                farr = arr
                if cond:
                    cond_r = _rewrite_elem_refs(
                        _rewrite_correlated_unnest(cond), alias, var
                    )
                    farr = f"filter({arr}, {var} -> {cond_r})"
                repl = _compile_unnest_scalar_agg(
                    sel_r, farr, var, v_nn, v_acc, v_x
                )
                if repl is None:
                    repl = (
                        f"get(transform({farr},"
                        f" {var} -> {sel_r}), 0)"
                    )
                out.append(sql[pos:i])
                out.append(repl)
                pos = end
                i = end
                continue
        i += 1
    out.append(sql[pos:])
    return "".join(out)


def _compile_unnest_scalar_agg(
    sel_r: str, farr: str, var: str, v_nn: str, v_acc: str, v_x: str
) -> str | None:
    """``(SELECT AGG(e) FROM UNNEST(arr) [AS a] [WHERE c])`` -> array
    algebra. The element-selection path picked element 0, so an
    aggregate select silently returned the OUTER query's aggregate
    (round 11: ``(SELECT COUNT(*) FROM UNNEST([1,2,3]))`` gave 1).
    BigQuery NULL semantics: COUNT over empty/NULL array is 0;
    SUM/MIN/MAX/AVG/LOGICAL_* over zero non-NULL elements are NULL;
    non-COUNT aggregates skip NULL elements. SUM seeds the fold with
    ``first_element * 0`` so the element type (INT64 exactness
    included) is preserved — DECIMAL elements are the one case this
    rejects LOUDLY (Spark's aggregate() demands a type-stable fold and
    decimal addition widens per step; cast to FLOAT64 to sum them);
    None when the select is not a recognized aggregate (the
    first-element path still serves)."""
    m = re.match(
        r"(COUNT|SUM|MIN|MAX|AVG|LOGICAL_AND|LOGICAL_OR)\s*\(",
        sel_r,
        re.IGNORECASE,
    )
    if not m or balanced_end(sel_r, m.end() - 1) != len(sel_r.rstrip()):
        return None
    fn = m.group(1).upper()
    inner = sel_r[m.end(): sel_r.rstrip().rfind(")")].strip()
    distinct = False
    dm = re.match(r"DISTINCT\s+", inner, re.IGNORECASE)
    if dm:
        distinct = True
        inner = inner[dm.end():].strip()
    if fn == "COUNT" and inner == "*" and not distinct:
        return f"CAST(coalesce(size({farr}), 0) AS BIGINT)"
    if inner == "*":
        return None  # SUM(*) etc. is not a shape BigQuery accepts
    vals = f"transform({farr}, {var} -> {inner})"
    nn = f"filter({vals}, {v_nn} -> {v_nn} IS NOT NULL)"
    if distinct:
        nn = f"array_distinct({nn})"
    if fn == "COUNT":
        return f"CAST(coalesce(size({nn}), 0) AS BIGINT)"
    if fn == "MIN":
        return f"array_min({nn})"
    if fn == "MAX":
        return f"array_max({nn})"
    if fn == "SUM":
        return (
            f"aggregate({nn}, try_element_at({nn}, 1) * 0,"
            f" ({v_acc}, {v_x}) -> {v_acc} + {v_x})"
        )
    if fn == "AVG":
        return (
            f"IF(coalesce(size({nn}), 0) = 0, CAST(NULL AS DOUBLE),"
            f" aggregate({nn}, CAST(0.0 AS DOUBLE),"
            f" ({v_acc}, {v_x}) -> {v_acc} + CAST({v_x} AS DOUBLE))"
            f" / size({nn}))"
        )
    if fn == "LOGICAL_AND":
        return (
            f"IF(coalesce(size({nn}), 0) = 0, CAST(NULL AS BOOLEAN),"
            f" forall({nn}, {v_x} -> {v_x}))"
        )
    # LOGICAL_OR
    return (
        f"IF(coalesce(size({nn}), 0) = 0, CAST(NULL AS BOOLEAN),"
        f" exists({nn}, {v_x} -> {v_x}))"
    )


def _enclosing_paren_span(sql: str, idx: int) -> tuple[int, int]:
    """Interior span (start, end) of the innermost ``(...)`` containing
    ``idx`` (string aware); the whole string if none."""
    stack: list[int] = []
    for m in re.finditer(r"[()]", mask(sql)):
        if m.group() == "(":
            stack.append(m.start())
        elif stack:
            start = stack.pop()
            if start < idx < m.start():
                # innermost: first close after idx whose open precedes it
                return start + 1, m.start()
    return 0, len(sql)


def _rewrite_lateral_unnest(sql: str) -> str:
    """``FROM t, UNNEST(arr) AS a`` -> ``FROM t, LATERAL (SELECT
    explode(arr) AS __unnest_a)`` — Spark's lateral correlated subquery,
    which (unlike LATERAL VIEW) still allows a following JOIN clause
    (ref: model_bqml.sql:166,188,313-314; output.sql:74,113;
    controller/ml_model/bigquery.py:104-105).

    BigQuery gives the UNNEST alias precedence over a same-named column
    of the base table (the GA4 idiom ``events e, UNNEST(params) AS
    params`` then ``params.key``); Spark would call that reference
    ambiguous, so the element column gets a fresh name and every dotted
    ``a.`` reference inside the enclosing subquery is renamed to match.
    (Bare un-dotted struct references to the alias are not rewritten —
    the reference's SQL always qualifies element field access.)"""
    pat = re.compile(r",\s*UNNEST\s*\(", re.IGNORECASE)
    while m := pat.search(mask(sql)):
        arr_open = m.end() - 1
        arr_end = balanced_end(sql, arr_open)
        if arr_end <= 0:
            return sql
        arr = sql[arr_open + 1 : arr_end - 1].strip()
        m_alias = re.match(r"\s*(?:AS\s+)?(\w+)", sql[arr_end:], re.IGNORECASE)
        if not m_alias:
            return sql
        alias = m_alias.group(1)
        fresh = f"__unnest_{alias}"
        clause_start, clause_end = m.start(), arr_end + m_alias.end()
        # BigQuery `WITH OFFSET [AS] o` — 0-based element index, which
        # is exactly posexplode's position column
        m_off = re.match(
            r"\s*WITH\s+OFFSET(?:\s+AS)?"
            r"(?:\s+(?!ORDER\b|WHERE\b|GROUP\b|HAVING\b|LIMIT\b|JOIN\b"
            r"|ON\b|UNION\b|CROSS\b|LEFT\b|RIGHT\b|INNER\b|FULL\b"
            r"|QUALIFY\b|WINDOW\b|EXCEPT\b|INTERSECT\b)(\w+))?",
            sql[clause_end:],
            re.IGNORECASE,
        )
        off_alias = None
        if m_off:
            off_alias = m_off.group(1) or "offset"
            clause_end += m_off.end()
            # WITH OFFSET queries reference the element bare (scalar
            # arrays), so keep the original alias as the column name —
            # the fresh-name dance only matters for the struct-field
            # precedence idiom, which doesn't use WITH OFFSET
            fresh = alias
        scope_start, scope_end = _enclosing_paren_span(sql, clause_start)
        ref_pat = re.compile(rf"(?<![\w.`]){re.escape(alias)}\s*\.")

        def rename(chunk: str) -> str:
            return sub_code(chunk, lambda seg: ref_pat.sub(f"{fresh}.", seg))

        before = sql[:scope_start]
        scope_pre = rename(sql[scope_start:clause_start])
        if off_alias is not None:
            replacement = (
                f", LATERAL (SELECT posexplode({arr}) AS ({off_alias}, {fresh}))"
            )
        else:
            replacement = f", LATERAL (SELECT explode({arr}) AS {fresh})"
        scope_post = rename(sql[clause_end:scope_end])
        after = sql[scope_end:]
        sql = before + scope_pre + replacement + scope_post + after
    return sql


def _rewrite_from_unnest(sql: str) -> str:
    """Standalone ``FROM UNNEST(arr) [AS x] [WITH OFFSET [AS] o]`` (the
    array is the whole relation) -> a derived table exploding the array;
    posexplode supplies BigQuery's 0-based WITH OFFSET column."""
    out: list[str] = []
    pos = 0
    pat = re.compile(r"\bFROM\s+UNNEST\s*\(", re.IGNORECASE)
    masked = mask(sql)
    i = 0
    while m := pat.search(masked, i):
        i = m.start()
        arr_open = m.end() - 1
        arr_end = balanced_end(sql, arr_open)
        if arr_end <= 0:
            i += 1
            continue
        arr = _rewrite_from_unnest(sql[arr_open + 1 : arr_end - 1].strip())
        m_alias = re.match(r"\s*(?:AS\s+)?(\w+)", sql[arr_end:], re.IGNORECASE)
        # alias-less UNNEST is legal BigQuery (anonymous element column,
        # surfaced as f0_ like BigQuery names it); without this guard
        # the next clause KEYWORD was eaten as the alias (round 11)
        if m_alias and m_alias.group(1).upper() not in _UNNEST_STOP_WORDS:
            alias = m_alias.group(1)
            clause_end = arr_end + m_alias.end()
        else:
            alias = "f0_"
            clause_end = arr_end
        m_off = re.match(
            r"\s*WITH\s+OFFSET(?:\s+AS)?"
            r"(?:\s+(?!ORDER\b|WHERE\b|GROUP\b|HAVING\b|LIMIT\b|JOIN\b"
            r"|ON\b|UNION\b|CROSS\b|LEFT\b|RIGHT\b|INNER\b|FULL\b"
            r"|QUALIFY\b|WINDOW\b|EXCEPT\b|INTERSECT\b)(\w+))?",
            sql[clause_end:],
            re.IGNORECASE,
        )
        if m_off:
            off_alias = m_off.group(1) or "offset"
            clause_end += m_off.end()
            rep = f"FROM (SELECT posexplode({arr}) AS ({off_alias}, {alias}))"
        else:
            rep = f"FROM (SELECT explode({arr}) AS {alias})"
        out.append(sql[pos : m.start()])
        out.append(rep)
        pos = i = clause_end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_array_subquery(sql: str) -> str:
    """``ARRAY(SELECT expr FROM ...)`` -> scalar subquery collecting the
    column: ``(SELECT collect_list(expr) FROM ...)``; the DISTINCT form
    collects a set, sorted for determinism (BigQuery leaves the order
    undefined). A trailing top-level ORDER BY on the same expression
    maps to array_sort; other orderings are left untouched (loud
    analyzer error beats a silently unordered array)."""
    out: list[str] = []
    pos = 0
    pat = re.compile(r"\bARRAY\s*\(\s*SELECT\b", re.IGNORECASE)
    masked = mask(sql)
    i = 0
    while m := pat.search(masked, i):
        i = m.start()
        open_idx = sql.index("(", m.start())
        end = balanced_end(sql, open_idx)
        if end <= 0:
            i += 1
            continue
        inner = _rewrite_array_subquery(sql[open_idx + 1 : end - 1].strip())
        m_sel = re.match(r"SELECT\s+(DISTINCT\s+)?", inner, re.IGNORECASE)
        body = inner[m_sel.end() :]
        distinct = bool(m_sel.group(1))
        # BigQuery SELECT AS STRUCT packs the select list into one
        # struct element; SELECT AS VALUE passes the single expression
        # through unchanged
        m_struct = re.match(r"AS\s+(STRUCT|VALUE)\s+", body, re.IGNORECASE)
        wrap_struct = False
        if m_struct:
            wrap_struct = m_struct.group(1).upper() == "STRUCT"
            body = body[m_struct.end():]
        # select list = text up to the first top-level FROM
        m_from = find_top_level(body, _FROM_RE)
        if m_from is None:
            i = end
            continue
        m_from = m_from.start()
        expr = body[:m_from].strip()
        if wrap_struct:
            expr = f"struct({expr})"
        rest = body[m_from:]
        # trailing top-level ORDER BY <expr> [ASC] -> array_sort
        sort = False
        m_ord = re.search(r"\bORDER\s+BY\s+(.+?)\s*$", rest, re.IGNORECASE | re.DOTALL)
        # balanced prefix => the ORDER BY is top-level, not inside parens
        if m_ord and balanced_end("(" + rest[: m_ord.start()] + ")", 0) != -1:
            key = m_ord.group(1).strip().rstrip(";").strip()
            if key.upper().endswith(" ASC"):
                key = key[:-4].strip()
            if key == expr:
                sort = True
                rest = rest[: m_ord.start()].rstrip()
        # FROM UNNEST(arr) [AS] a [WHERE p] — compile straight to array
        # HOFs (works correlated on an outer column, which a scalar
        # subquery over an array cannot)
        m_un = re.match(
            r"FROM\s+UNNEST\s*\(", rest, re.IGNORECASE
        )
        hof = None
        if m_un:
            a_open = rest.index("(", m_un.start())
            a_end = balanced_end(rest, a_open)
            if a_end > 0:
                arr = rest[a_open + 1 : a_end - 1].strip()
                m_al = re.match(
                    r"\s*(?:AS\s+)?(\w+)\s*", rest[a_end:], re.IGNORECASE
                )
                if m_al:
                    a_name = m_al.group(1)
                    tail = rest[a_end + m_al.end() :].strip().rstrip(";").strip()
                    base = arr
                    ok_tail = tail == ""
                    m_wh = re.match(r"WHERE\s+(.+)$", tail, re.IGNORECASE | re.DOTALL)
                    if m_wh:
                        base = f"filter({arr}, {a_name} -> {m_wh.group(1).strip()})"
                        ok_tail = True
                    if ok_tail:
                        hof = f"transform({base}, {a_name} -> {expr})"
        if hof is not None:
            coll = hof
            if distinct:
                coll = f"array_distinct({coll})"
            if sort or distinct:
                coll = f"array_sort({coll})"
            out.append(sql[pos : m.start()])
            out.append(coll)
            pos = i = end
            continue
        agg = "collect_set" if distinct else "collect_list"
        coll = f"{agg}({expr})"
        if sort or distinct:
            coll = f"array_sort({coll})"
        out.append(sql[pos : m.start()])
        out.append(f"(SELECT {coll} {rest})")
        pos = i = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_numeric_trunc(sql: str) -> str:
    """BigQuery ``TRUNC(x[, d])`` truncates numbers toward zero (date
    truncation is DATE_TRUNC there, so TRUNC in a BigQuery script is
    always numeric); Spark's ``trunc`` is date-only. Rewrite through
    sign/floor, which keeps the input's floating type."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, _fn in iter_calls(sql, ("TRUNC",)):
        args = [
            a.strip() for a in split_top_level(sql[open_idx + 1 : end - 1])
        ]
        if len(args) == 1:
            rep = f"(sign({args[0]}) * floor(abs({args[0]})))"
        elif len(args) == 2:
            x, d = args
            rep = (
                f"(sign({x}) * floor(abs({x}) * power(10, {d}))"
                f" / power(10, {d}))"
            )
        else:
            continue
        out.append(sql[pos:start])
        out.append(rep)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.IGNORECASE)
_QUALIFY_TAIL_RE = re.compile(
    r"\b(ORDER\s+BY|LIMIT|UNION|INTERSECT|EXCEPT)\b", re.IGNORECASE
)


def _rewrite_qualify(sql: str) -> str:
    """BigQuery ``QUALIFY <window predicate>`` (post-window filter; Spark
    has no equivalent clause) -> wrap the query block in a subquery that
    projects the predicate and filter outside:

      SELECT ... FROM t QUALIFY p [ORDER BY/LIMIT tail]
        -> SELECT * EXCEPT (__q) FROM (SELECT ..., p AS __q FROM t)
           WHERE __q [tail]

    Applied innermost-first so QUALIFY inside CTE bodies and subqueries
    works; each block may carry one QUALIFY."""
    if not _QUALIFY_RE.search(sql):
        return sql
    # recurse into parenthesized blocks first
    out: list[str] = []
    pos = 0
    masked = mask(sql)
    i = 0
    while (i := masked.find("(", i)) >= 0:
        end = balanced_end(masked, i)
        if end > 0:
            inner = _rewrite_qualify(sql[i + 1 : end - 1])
            out.append(sql[pos : i + 1])
            out.append(inner)
            out.append(")")
            pos = i = end
            continue
        i += 1
    out.append(sql[pos:])
    sql = "".join(out)

    m = find_top_level(sql, _QUALIFY_RE)
    if not m:
        return sql
    if not re.match(r"\s*(SELECT|WITH)\b", sql, re.IGNORECASE):
        # DDL/DML prologue (CREATE ... AS / INSERT INTO ...): split it off
        # and rewrite only the query part
        m_q = find_top_level(sql, re.compile(r"\b(SELECT|WITH)\b", re.IGNORECASE))
        if not m_q or m_q.start() == 0:
            return sql
        return sql[: m_q.start()] + _rewrite_qualify(sql[m_q.start() :])
    head = sql[: m.start()].rstrip()
    rest = sql[m.end() :].strip()
    m_tail = find_top_level(rest, _QUALIFY_TAIL_RE)
    if m_tail:
        pred, tail = rest[: m_tail.start()].rstrip(), " " + rest[m_tail.start() :]
    else:
        pred, tail = rest, ""
    with_clause = ""
    if re.match(r"\s*WITH\b", head, re.IGNORECASE):
        # QUALIFY in the main query of a WITH: keep the CTE prologue
        # outside the wrap (Spark allows WITH only at statement head)
        with_clause = extract_with_clause(head)
        if not with_clause:
            return sql
        head = head[len(with_clause) :].lstrip()
    m_sel = re.match(r"\s*SELECT\b(\s+DISTINCT\b)?", head, re.IGNORECASE)
    if not m_sel:
        return sql  # QUALIFY outside a plain SELECT block — leave as-is
    if m_sel.group(1):
        # DISTINCT: adding __q to the list would change the dedup key —
        # wrap the whole block instead (pred then sees output columns
        # only, which is what QUALIFY over DISTINCT means anyway)
        inner = f"SELECT *, ({pred}) AS __q FROM ({head})"
    else:
        m_from = find_top_level(head, _FROM_RE, m_sel.end())
        if not m_from:
            return sql
        inner = (
            f"{head[:m_from.start()].rstrip()}, ({pred}) AS __q "
            f"{head[m_from.start():]}"
        )
    return (
        f"{with_clause} SELECT * EXCEPT (__q) FROM ({inner})"
        f" WHERE __q{tail}"
        if with_clause
        else f"SELECT * EXCEPT (__q) FROM ({inner}) WHERE __q{tail}"
    )


# BigQuery LOG_ANALYZER's documented default delimiter list (public
# "Text analyzers" docs): [ ] < > ( ) { } | ! ; , ' " * & ? + / : = @
# . - $ % \ _ and whitespace. Unicode letters/digits are KEPT — the
# previous [^a-z0-9]+ split dropped every non-ASCII rune (round-10
# advisory). Character-class notes for cross-engine byte-identity:
# the quote delimiters are spelled \x27/\x22 so the SAME pattern
# embeds in Spark SQL literals (backslash-doubled), DuckDB literals
# (verbatim — standard SQL strings don't process escapes) and Python
# raw strings; whitespace is spelled as explicit ASCII characters
# because Java's \s is ASCII-only while Python's is Unicode-wide.
LOG_ANALYZER_DELIMS = (
    r"[\[\]<>(){}|!;,\x27\x22*&?+/:=@.\-$%\\_ \t\n\r\x0b\x0c]+"
)
#: the same pattern as it must appear INSIDE a single-quoted Spark SQL
#: string literal (Spark unescapes C-style sequences at parse time)
LOG_ANALYZER_DELIMS_SPARK_SQL = LOG_ANALYZER_DELIMS.replace("\\", "\\\\")


def _log_analyzer_tokens(e: str) -> str:
    """LOG_ANALYZER tokenization as a Spark SQL expression — the ONE
    definition shared by SEARCH (2- and 3-arg), TEXT_ANALYZE and,
    byte-for-byte, the index write path and the driver-side
    search_bucket (operators/text.py): lowercase + split on the
    documented delimiter list (Unicode letters/digits kept), empties
    dropped."""
    return (
        f"filter(split(lower({e}),"
        f" '{LOG_ANALYZER_DELIMS_SPARK_SQL}'), x -> x != '')"
    )


def _default_resolver(table_id: str) -> str:
    from .catalog import _safe_view_name

    return _safe_view_name(table_id.replace("*", "__star__"))


#: the qualifier of an INFORMATION_SCHEMA view quoted in parts, as in
#: `region-us`.INFORMATION_SCHEMA.JOBS or `p`.`d`.INFORMATION_SCHEMA.TABLES:
#: with its backticks off it resolves like the bare spelling
_SPLIT_QUALIFIER_RE = re.compile(
    r"(?<![\w`.\-])(?:`[\w\-.]+`|[\w\-]+)(?:\.(?:`[\w\-.]+`|[\w\-]+))?"
    r"(?=\.INFORMATION_SCHEMA\.)",
    re.IGNORECASE,
)


def _rewrite_backtick_tables(sql: str, resolver=None) -> str:
    """```proj.ds.table``` -> safe single-part view name. Wildcard
    (``events_*``) and ``__TABLES_SUMMARY__`` names go through
    ``resolver(table_id) -> view_name`` so the executor's catalog can
    materialize shard-union / metadata views on demand
    (ref: model_bqml.sql:91; output.sql:5,18)."""
    resolver = resolver or _default_resolver
    from .catalog import _safe_view_name

    def repl(m: re.Match) -> str:
        t = m.group(1)
        if "." not in t:
            return m.group(0)
        if (
            t.endswith("*")
            or t.endswith("__TABLES_SUMMARY__")
            or re.search(r"\.INFORMATION_SCHEMA\.", t, re.IGNORECASE)
        ):
            return resolver(t)
        return _safe_view_name(t)

    # OUTSIDE string literals only (round 10): a backticked name inside
    # a literal — the EXECUTE IMMEDIATE pattern `'CREATE TABLE
    # `p.d.t` AS ...'` — must reach the dynamic statement verbatim; the
    # dynamic text is transpiled again when it executes, so mangling it
    # here routed the CTAS under the session-safe name instead of the
    # real one (caught by the round-10 plane probes). code_backticks
    # keeps backtick regions in the code segments — they are exactly
    # what this rewrite targets — and the shared walker is comment-
    # aware, so `-- user's note` cannot swallow later names.
    sql = sub_code(
        sql,
        lambda seg: re.sub(
            r"`([A-Za-z0-9_\-.*]+)`",
            repl,
            _SPLIT_QUALIFIER_RE.sub(lambda m: m.group().replace("`", ""), seg),
        ),
        ("string",),
    )
    # bare (unbackticked) INFORMATION_SCHEMA references — the common
    # spelling in BigQuery metadata queries
    return sub_code(
        sql,
        lambda seg: re.sub(
            r"\b([\w\-]+(?:\.[\w\-]+)?\.INFORMATION_SCHEMA\."
            r"(?:TABLES|COLUMNS|SCHEMATA|VIEWS|MATERIALIZED_VIEWS"
            r"|PARTITIONS|TABLE_OPTIONS"
            r"|COLUMN_FIELD_PATHS|TABLE_STORAGE|ROUTINES"
            r"|SEARCH_INDEXES|VECTOR_INDEXES"
            r"|TABLE_CONSTRAINTS|KEY_COLUMN_USAGE"
            r"|JOBS(?:_BY_PROJECT|_BY_USER)?))\b",
            lambda m: resolver(m.group(1)),
            seg,
            flags=re.IGNORECASE,
        ),
    )


# BigQuery -> Spark SQL type spellings (used in UDF signatures; the
# CAST spellings are handled separately in transpile_statement)
_BQ_TYPE_MAP = (
    ("INT64", "BIGINT"),
    ("FLOAT64", "DOUBLE"),
    ("BOOL", "BOOLEAN"),
    ("BYTES", "BINARY"),
    ("BIGNUMERIC", "DECIMAL(38, 18)"),
    ("NUMERIC", "DECIMAL(38, 9)"),
    ("DATETIME", "TIMESTAMP_NTZ"),
)


def _map_bq_types(fragment: str) -> str:
    # parameterized types first (BigQuery DDL: STRING(10), BYTES(5),
    # NUMERIC(10, 2)) — the bare-name map below would otherwise turn
    # NUMERIC(10, 2) into DECIMAL(38, 9)(10, 2). Digit-only arguments
    # distinguish the type parameter from the STRING(timestamp)
    # FUNCTION form; STRING/BYTES length caps are constraints BigQuery
    # enforces on write — the Spark types are unbounded (documented:
    # lengths drop, precision/scale keep).
    fragment = re.sub(
        r"\b(BIG)?NUMERIC\s*\((\s*\d+\s*(?:,\s*\d+\s*)?)\)",
        r"DECIMAL(\2)",
        fragment,
        flags=re.IGNORECASE,
    )
    fragment = re.sub(
        r"\bSTRING\s*\(\s*\d+\s*\)", "STRING", fragment, flags=re.IGNORECASE
    )
    fragment = re.sub(
        r"\bBYTES\s*\(\s*\d+\s*\)", "BINARY", fragment, flags=re.IGNORECASE
    )
    for bq, sp in _BQ_TYPE_MAP:
        fragment = re.sub(rf"\b{bq}\b", sp, fragment, flags=re.IGNORECASE)
    return fragment


_TEMP_FN_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+FUNCTION\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?(`?[\w.\-]+`?)\s*\(",
    re.IGNORECASE,
)


# --- JavaScript UDF translation (BigQuery LANGUAGE js) ---------------------
#
# BigQuery UDFs may be written in JavaScript (ref bq_script_executor.py:
# 26-36 runs arbitrary user scripts). Spark has no JS engine, but the
# overwhelmingly common JS UDF shapes are `return <expression>;` —
# optionally preceded by var/let/const bindings, which inline by
# substitution — over arithmetic / string builtins, mechanically
# expressible in SQL. `_js_body_to_sql` translates that subset (Math.*,
# String methods incl. first-occurrence-only .replace, ternaries,
# ===/&&/||, string +); anything beyond it raises a TARGETED error
# naming the construct and the SQL-UDF alternative.
#
# Documented divergences from real JS (loudly narrow, never silent):
# - `+` becomes string concatenation only when a string literal is
#   adjacent; `a + b` over string-typed *parameters* stays numeric.

_JS_SQL_WORDS = {
    # emitted by the translator / SQL keywords valid in a UDF body
    "IF", "AND", "OR", "NOT", "IS", "NULL", "TRUE", "FALSE", "CAST", "AS",
    "STRING", "DOUBLE", "BIGINT", "upper", "lower", "length", "substring",
    "instr", "contains", "startswith", "endswith", "replace", "concat",
    "power", "abs", "floor", "ceil", "round", "sqrt", "greatest", "least",
    "ln", "exp", "trim", "sign", "mod", "lpad", "rpad", "ltrim", "rtrim",
    "ascii", "char", "format_string", "regexp_replace", "repeat",
}

_JS_MATH_FNS = {
    "abs": "abs", "floor": "floor", "ceil": "ceil", "round": "round",
    "sqrt": "sqrt", "pow": "power", "max": "greatest", "min": "least",
    "log": "ln", "exp": "exp", "sign": "sign", "trunc": "cast",
}


class JsUdfError(ValueError):
    def __init__(self, detail: str):
        super().__init__(
            "JavaScript UDF body is outside the translatable subset "
            f"({detail}). Rewrite it as a SQL-expression UDF: "
            "CREATE TEMP FUNCTION f(...) AS (<SQL expression>) — the "
            "engine compiles those natively (see _rewrite_temp_function)."
        )


def _js_ternary_to_if(e: str) -> str:
    """``c ? a : b`` -> ``IF(c, a, b)``: converts the top-level ternary
    if present, then recurses into every parenthesized group (a ternary
    wrapped in parens sits at depth 1 and must still convert)."""
    depth = 0
    for i, ch in enumerate(e):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "?" and depth == 0:
            want = 1
            d2 = 0
            for j in range(i + 1, len(e)):
                cj = e[j]
                if cj == "(":
                    d2 += 1
                elif cj == ")":
                    d2 -= 1
                elif cj == "?" and d2 == 0:
                    want += 1
                elif cj == ":" and d2 == 0:
                    want -= 1
                    if want == 0:
                        return (
                            f"IF({_js_ternary_to_if(e[:i]).strip()}, "
                            f"{_js_ternary_to_if(e[i + 1:j]).strip()}, "
                            f"{_js_ternary_to_if(e[j + 1:]).strip()})"
                        )
            raise JsUdfError("unbalanced ternary ?:")
    if "?" not in e:
        return e
    # no top-level ternary but '?' remains: rewrite inside paren groups
    out: list[str] = []
    i, n = 0, len(e)
    while i < n:
        if e[i] == "(":
            end = balanced_end(e, i)
            if end < 0:
                raise JsUdfError("unbalanced parentheses")
            out.append("(" + _js_ternary_to_if(e[i + 1 : end - 1]) + ")")
            i = end
        else:
            out.append(e[i])
            i += 1
    return "".join(out)


_JS_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "'": "'", '"': '"', "\\": "\\", "0": "\x00"}


def _js_unescape(s: str) -> str:
    """Decode JS string-literal backslash escapes (both quote styles)."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            out.append(_JS_ESCAPES.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _js_body_to_sql(body: str, param_names: list[str]) -> str:
    """Translate a JS UDF body — leading ``var``/``let``/``const``
    bindings followed by a single ``return <expression>;`` — to a SQL
    expression, or raise ``JsUdfError`` naming the unsupported
    construct. Bindings are inlined by substitution (each variable's
    expression replaces its uses, earlier bindings resolving into later
    ones), so ``var x = a + 1; return x * x;`` becomes
    ``(a + 1) * (a + 1)``; re-assignment, loops, and branches stay
    targeted errors."""
    b = body.strip()

    # 1. protect string literals (JS ' or ") as \x00i\x00 placeholders
    #    over the WHOLE body, so statement splitting and variable
    #    substitution never touch literal contents
    lits: list[str] = []

    def _take(mm):
        s = _js_unescape(mm.group(0)[1:-1])
        lits.append("'" + s.replace("'", "''") + "'")
        return f"\x00{len(lits) - 1}\x00"

    e_all = re.sub(r"'(?:\\.|[^'\\])*'|\"(?:\\.|[^\"\\])*\"", _take, b)
    if "`" in e_all:
        raise JsUdfError("template literals (`...`) are not supported")

    # 2. statement structure: var bindings, then either a single return
    #    or an if/return chain (converted to a JS ternary and handled by
    #    the existing ternary -> IF() translation)
    rest = e_all.strip()
    if not rest:
        raise JsUdfError("empty body")
    for kw in ("for", "while", "do", "switch", "try", "function"):
        if re.search(rf"\b{kw}\b", rest):
            raise JsUdfError(f"`{kw}` statements are not supported")

    def _subst(name: str, expr: str, target: str) -> str:
        return re.sub(
            rf"(?<![\w$.]){re.escape(name)}(?![\w$])", f"({expr})", target
        )

    bindings: list[tuple[str, str]] = []
    var_re = re.compile(
        r"^(?:var|let|const)\s+([A-Za-z_$][\w$]*)\s*=\s*([^;{}]*);\s*"
    )
    while True:
        m = var_re.match(rest)
        if not m:
            break
        name, expr = m.group(1), m.group(2).strip()
        for bn, be in bindings:
            expr = _subst(bn, be, expr)
        bindings.append((name, expr))
        rest = rest[m.end():]

    def _brace_end(s: str, i: int) -> int:
        depth = 0
        for j in range(i, len(s)):
            if s[j] == "{":
                depth += 1
            elif s[j] == "}":
                depth -= 1
                if depth == 0:
                    return j + 1
        raise JsUdfError("unbalanced braces")

    def _tail_expr(text: str) -> str:
        """A statement tail -> one JS expression: `return <e>;`, or an
        if/else-if/return chain folded into nested ternaries."""
        text = text.strip()
        m = re.match(r"^if\s*\(", text)
        if m:
            cond_end = balanced_end(text, m.end() - 1)
            if cond_end < 0:
                raise JsUdfError("unbalanced parentheses in if condition")
            cond = text[m.end(): cond_end - 1]
            after = text[cond_end:].strip()
            if after.startswith("{"):
                bend = _brace_end(after, 0)
                then_body, after2 = after[1: bend - 1], after[bend:].strip()
            else:
                semi = after.find(";")
                if semi < 0:
                    raise JsUdfError("if branch must end with `;`")
                then_body, after2 = after[: semi + 1], after[semi + 1:].strip()
            if after2.startswith("else"):
                after2 = after2[4:].strip()
                if after2.startswith("{"):
                    bend = _brace_end(after2, 0)
                    else_body = after2[1: bend - 1]
                    if after2[bend:].strip():
                        raise JsUdfError(
                            "statements after the else branch are not "
                            "supported"
                        )
                else:
                    else_body = after2
            else:
                # fall-through: the code after the if IS the else branch
                else_body = after2
            if not else_body.strip():
                raise JsUdfError(
                    "every if branch must lead to a return (no "
                    "fall-off-the-end)"
                )
            return (
                f"(({cond}) ? ({_tail_expr(then_body)}) "
                f": ({_tail_expr(else_body)}))"
            )
        m = re.fullmatch(r"return\s+(.*?);?\s*", text, re.DOTALL)
        if not m or ";" in m.group(1):
            raise JsUdfError(
                "the body must end with `return <expression>;` (or an "
                "if/return chain)"
            )
        return m.group(1)

    e = _tail_expr(rest)
    for bn, be in bindings:
        e = _subst(bn, be, e)

    # 2. ternaries -> IF()
    e = _js_ternary_to_if(e)

    # 3. Math.* and global conversion functions
    def _math(mm):
        fn = _JS_MATH_FNS.get(mm.group(1))
        if fn is None:
            raise JsUdfError(f"Math.{mm.group(1)} is not supported")
        return "cast_bigint" if fn == "cast" else fn

    e = re.sub(r"\bMath\s*\.\s*(\w+)(?=\s*\()", _math, e)
    e = re.sub(r"\bString\s*\(", "cast_string(", e)
    e = re.sub(r"\b(?:Number|parseFloat)\s*\(", "cast_double(", e)
    e = re.sub(r"\bparseInt\s*\(", "cast_bigint(", e)

    # 4. method calls / .length on simple receivers (an identifier, a
    #    single call result, or a parenthesized group — the shape var
    #    substitution produces), innermost-first until fixpoint
    recv = r"((?:[A-Za-z_$][\w$]*)?\s*\((?:[^()]|\([^()]*\))*\)|[A-Za-z_$][\w$]*)"
    meth0 = {
        "toUpperCase": "upper({r})", "toLowerCase": "lower({r})",
        "trim": "trim({r})", "toString": "cast_string({r})",
        "trimStart": "ltrim({r})", "trimEnd": "rtrim({r})",
    }
    while True:
        prev = e

        def _m0(mm):
            t = meth0.get(mm.group(2))
            if t is None:
                return mm.group(0)
            return t.format(r=mm.group(1))

        e = re.sub(recv + r"\s*\.\s*(\w+)\s*\(\s*\)", _m0, e)
        e = re.sub(
            recv + r"\s*\.\s*charAt\s*\(((?:[^()]|\([^()]*\))*)\)",
            r"substring(\1, (\2) + 1, 1)", e,
        )
        e = re.sub(
            recv + r"\s*\.\s*substring\s*\(((?:[^()]|\([^()]*\))*),"
            r"((?:[^()]|\([^()]*\))*)\)",
            r"substring(\1, (\2) + 1, (\3) - (\2))", e,
        )
        e = re.sub(
            recv + r"\s*\.\s*substring\s*\(((?:[^()]|\([^()]*\))*)\)",
            r"substring(\1, (\2) + 1)", e,
        )
        e = re.sub(
            recv + r"\s*\.\s*indexOf\s*\(((?:[^()]|\([^()]*\))*)\)",
            r"(instr(\1, \2) - 1)", e,
        )
        e = re.sub(
            recv + r"\s*\.\s*charCodeAt\s*\(((?:[^()]|\([^()]*\))*)\)",
            r"ascii(substring(\1, (\2) + 1, 1))", e,
        )
        for js, sqlfn in (("padStart", "lpad"), ("padEnd", "rpad")):
            e = re.sub(
                recv + r"\s*\.\s*" + js
                + r"\s*\(((?:[^()]|\([^()]*\))*),((?:[^()]|\([^()]*\))*)\)",
                sqlfn + r"(\1, \2, \3)", e,
            )
            e = re.sub(
                recv + r"\s*\.\s*" + js + r"\s*\(((?:[^()]|\([^()]*\))*)\)",
                sqlfn + r"(\1, \2, ' ')", e,
            )

        def _to_fixed(mm):
            r, n = mm.group(1), mm.group(2).strip()
            if not re.fullmatch(r"\d+", n):
                raise JsUdfError(".toFixed requires a literal digit count")
            lits.append(f"'%.{int(n)}f'")
            return (
                f"format_string(\x00{len(lits) - 1}\x00, "
                f"CAST({r} AS DOUBLE))"
            )

        e = re.sub(
            recv + r"\s*\.\s*toFixed\s*\(((?:[^()]|\([^()]*\))*)\)",
            _to_fixed, e,
        )

        def _js_slice(mm):
            # string .slice with literal non-negative bounds only —
            # negative (from-the-end) offsets would silently diverge
            r = mm.group(1)
            args_ = [a.strip() for a in mm.group(2).split(",")]
            if not all(re.fullmatch(r"\d+", a) for a in args_):
                raise JsUdfError(
                    ".slice supports literal non-negative bounds only"
                )
            if len(args_) == 1:
                return f"substring({r}, {int(args_[0]) + 1})"
            if len(args_) == 2:
                a0, a1 = int(args_[0]), int(args_[1])
                return f"substring({r}, {a0 + 1}, {max(a1 - a0, 0)})"
            raise JsUdfError(".slice takes 1 or 2 arguments")

        e = re.sub(
            recv + r"\s*\.\s*slice\s*\(((?:[^()]|\([^()]*\))*)\)",
            _js_slice, e,
        )
        e = re.sub(
            r"\bString\s*\.\s*fromCharCode\s*(?=\()", "char", e,
        )
        for js, sqlfn in (
            ("includes", "contains"), ("startsWith", "startswith"),
            ("endsWith", "endswith"), ("concat", "concat"),
            ("repeat", "repeat"),
        ):
            e = re.sub(
                recv + r"\s*\.\s*" + js + r"\s*\(((?:[^()]|\([^()]*\))*)\)",
                sqlfn + r"(\1, \2)", e,
            )
        def _js_replace(mm):
            # JS string .replace substitutes only the FIRST occurrence;
            # SQL replace() substitutes all, so emit a first-occurrence
            # splice instead (instr('', pat)=1 gives JS's prepend-on-
            # empty-pattern behavior for free). A /regex/g literal maps
            # to regexp_replace (global, $1 backrefs work in both);
            # non-global regex replacement isn't SQL-expressible —
            # targeted error.
            r, pat, rep_ = mm.group(1), mm.group(2).strip(), mm.group(3).strip()
            if pat.startswith("/"):
                rm = re.fullmatch(r"/((?:\\.|[^/\\])*)/([a-z]*)", pat)
                if not rm:
                    raise JsUdfError(f"unparsable regex literal {pat!r}")
                if "g" not in rm.group(2):
                    raise JsUdfError(
                        ".replace with a non-global regex replaces only "
                        "the first match, which SQL regexp_replace "
                        "cannot express — use a /g regex or a string "
                        "pattern"
                    )
                lits.append("'" + rm.group(1).replace("'", "''") + "'")
                return (
                    f"regexp_replace({r}, \x00{len(lits) - 1}\x00, {rep_})"
                )
            return (
                f"IF(instr({r}, {pat}) = 0, {r}, "
                f"concat(substring({r}, 1, instr({r}, {pat}) - 1), {rep_}, "
                f"substring({r}, instr({r}, {pat}) + length({pat}))))"
            )

        e = re.sub(
            recv + r"\s*\.\s*replace\s*\(((?:[^()]|\([^()]*\))*),"
            r"((?:[^()]|\([^()]*\))*)\)",
            _js_replace, e,
        )
        e = re.sub(recv + r"\s*\.\s*length\b(?!\s*\()", r"length(\1)", e)
        if e == prev:
            break
    if re.search(r"\.\s*\w", e):
        mm = re.search(r"\.\s*(\w+)", e)
        raise JsUdfError(f"method/property .{mm.group(1)} is not supported")

    # 5. operators (null comparisons first: JS `x === null` is SQL
    #    `x IS NULL`, not the never-true `x = NULL`)
    e = re.sub(
        r"([\w$)\x00]+)\s*(?:===|==)\s*(?:null|undefined)\b",
        r"\1 IS NULL", e,
    )
    e = re.sub(
        r"([\w$)\x00]+)\s*(?:!==|!=)\s*(?:null|undefined)\b",
        r"\1 IS NOT NULL", e,
    )
    e = re.sub(r"!==", "<>", e)
    e = re.sub(r"===", "=", e)
    e = re.sub(r"!=", "<>", e)
    e = re.sub(r"==", "=", e)
    e = re.sub(r"&&", " AND ", e)
    e = re.sub(r"\|\|", " OR ", e)
    e = re.sub(r"!(?=[\s(\w\x00])", " NOT ", e)
    e = re.sub(r"\bnull\b|\bundefined\b", "NULL", e)
    e = re.sub(r"\btrue\b", "TRUE", e)
    e = re.sub(r"\bfalse\b", "FALSE", e)

    # 6. `+` adjacent to a string literal = JS concatenation
    e = re.sub(r"\+(\s*\x00\d+\x00)", r"||\1", e)
    e = re.sub(r"(\x00\d+\x00\s*)\+", r"\1||", e)

    # 7. the typed-cast pseudo functions
    e = re.sub(r"\bcast_string\s*\(", "CAST_S(", e)
    e = re.sub(r"\bcast_double\s*\(", "CAST_D(", e)
    e = re.sub(r"\bcast_bigint\s*\(", "CAST_B(", e)
    for tag, t in (("CAST_S", "STRING"), ("CAST_D", "DOUBLE"), ("CAST_B", "BIGINT")):
        while tag + "(" in e:
            i = e.index(tag + "(")
            end = balanced_end(e, i + len(tag))
            if end < 0:
                raise JsUdfError("unbalanced parentheses")
            inner = e[i + len(tag) + 1 : end - 1]
            e = e[:i] + f"CAST({inner} AS {t})" + e[end:]

    # 8. validate every remaining identifier
    for w in set(re.findall(r"[A-Za-z_$][\w$]*", e)):
        if w in _JS_SQL_WORDS or w in param_names:
            continue
        raise JsUdfError(f"identifier or construct `{w}` is not supported")

    # 9. restore string literals
    return re.sub(r"\x00(\d+)\x00", lambda mm: lits[int(mm.group(1))], e)


_JS_FN_RE = re.compile(
    r"\bLANGUAGE\s+js\s*(?:OPTIONS\s*\([^)]*\)\s*)?AS\s+r?(\"\"\"|'''|\"|')",
    re.IGNORECASE,
)


def _rewrite_temp_function(sql: str) -> str:
    """BigQuery ``CREATE TEMP FUNCTION f(a INT64) [RETURNS T] AS (expr)``
    -> Spark 4 SQL UDF ``CREATE OR REPLACE TEMPORARY FUNCTION f(a BIGINT)
    [RETURNS T'] RETURN expr`` (the reference's BQScriptExecutor
    explicitly supports scripts that create UDFs,
    ref: bq_script_executor.py:26-36). ``LANGUAGE js`` bodies are
    translated through ``_js_body_to_sql`` when they fit the
    single-return arithmetic/string subset; otherwise ``JsUdfError``
    names the construct and the SQL-UDF alternative."""
    m = _TEMP_FN_RE.match(sql)
    if not m:
        return sql
    mjs = _JS_FN_RE.search(sql)
    if mjs:
        name = m.group(1).strip("`").replace(".", "__")
        open_idx = sql.index("(", m.end() - 1)
        params_end = balanced_end(sql, open_idx)
        if params_end < 0:
            return sql
        params = _map_bq_types(sql[open_idx + 1 : params_end - 1])
        param_names = re.findall(r"([A-Za-z_$][\w$]*)\s+\w", params)
        m_ret = re.search(
            r"RETURNS\s+(.+?)\s+(?:LANGUAGE|OPTIONS)\b",
            sql[params_end:],
            re.IGNORECASE | re.DOTALL,
        )
        returns = (
            f" RETURNS {_map_bq_types(m_ret.group(1).strip())}" if m_ret else ""
        )
        delim = mjs.group(1)
        body_start = mjs.end()
        body_end = sql.find(delim, body_start)
        if body_end < 0:
            raise JsUdfError("unterminated JS body string")
        body_sql = _js_body_to_sql(sql[body_start:body_end], param_names)
        return (
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params})"
            f"{returns} RETURN {body_sql}"
        )
    name = m.group(1).strip("`").replace(".", "__")
    open_idx = sql.index("(", m.end() - 1)
    params_end = balanced_end(sql, open_idx)
    if params_end < 0:
        return sql
    params = _map_bq_types(sql[open_idx + 1 : params_end - 1])
    if re.search(r"\bANY\s+TYPE\b", params, re.IGNORECASE):
        raise ValueError("templated ANY TYPE UDF parameters are not supported")
    rest = sql[params_end:]
    returns = ""
    m_ret = re.match(r"\s*RETURNS\s+(.+?)\s+AS\s*\(", rest, re.IGNORECASE | re.DOTALL)
    if m_ret:
        returns = f" RETURNS {_map_bq_types(m_ret.group(1).strip())}"
        body_open = params_end + m_ret.end() - 1
    else:
        m_as = re.match(r"\s*AS\s*\(", rest, re.IGNORECASE)
        if not m_as:
            return sql
        body_open = params_end + m_as.end() - 1
    body_end = balanced_end(sql, body_open)
    if body_end < 0:
        return sql
    body = sql[body_open + 1 : body_end - 1].strip()
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params})"
        f"{returns} RETURN {body}"
    )


def _vs_distance(qc: str, bc: str, kind: str) -> str:
    """Spark SQL distance expression between two array columns, all
    JVM-side higher-order functions (no Python on the scoring path)."""
    dot = (
        f"aggregate(zip_with({qc}, {bc}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), "
        f"(acc, v) -> acc + v)"
    )

    def norm(col: str) -> str:
        return (
            f"sqrt(aggregate(transform({col}, x -> "
            f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), "
            f"(acc, v) -> acc + v))"
        )

    if kind == "COSINE":
        return f"1.0D - ({dot}) / ({norm(qc)} * {norm(bc)})"
    if kind == "DOT_PRODUCT":
        return f"-({dot})"
    if kind == "MANHATTAN":
        return (
            f"aggregate(zip_with({qc}, {bc}, (x, y) -> "
            f"abs(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    # EUCLIDEAN (BigQuery default)
    return (
        f"sqrt(aggregate(zip_with({qc}, {bc}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0 AS DOUBLE), "
        f"(acc, v) -> acc + v))"
    )


def _rewrite_vector_search(sql: str) -> str:
    """BigQuery ``VECTOR_SEARCH`` table function -> scored derived table.

    Surface (ref: BigQuery vector search docs; the reference's
    BQScriptExecutor runs whatever standard-SQL the user writes,
    bq_script_executor.py:26-36)::

        FROM VECTOR_SEARCH(
          {TABLE base | (subquery)}, 'embedding_column',
          {TABLE query | (subquery)}
          [, query_column_to_search => 'col']
          [, top_k => k]                       -- default 10
          [, distance_type => 'EUCLIDEAN'|'COSINE'|'DOT_PRODUCT']
          [, options => ...])                  -- accepted, ignored

    Output columns match BigQuery: ``query`` STRUCT (all query-side
    columns), ``base`` STRUCT (all base-side columns), ``distance``
    FLOAT64 (DOT_PRODUCT = negative dot product, smaller = closer).

    Spark plan: the query side is wrapped with a synthetic per-row id
    and BROADCAST-hinted (probes are small by construction), the base
    side streams through a map-only distance projection (zip_with/
    aggregate HOFs inside whole-stage codegen), and the top-k cut is a
    per-query row_number window partitioned on the probe id — no
    all-pairs materialization beyond the broadcast NLJ itself. This is
    the exact path (BigQuery ``use_brute_force => true``); the
    approximate index layouts live in operators/ivf.py + operators/
    pq.py and share the same distance semantics.
    """
    while True:
        hit = None
        for start, op, end, _name in iter_calls(sql, ("VECTOR_SEARCH",)):
            hit = (start, op, end)
            break
        if hit is None:
            return sql
        start, op, end = hit
        raw_args = split_top_level(sql[op + 1 : end - 1])
        if len(raw_args) < 3:
            raise ValueError(
                "VECTOR_SEARCH needs (base, 'column', query[, named args])"
            )

        def _rel(arg: str) -> str:
            a = arg.strip()
            m_t = re.match(r"TABLE\s+(.+)$", a, re.IGNORECASE | re.DOTALL)
            if m_t:
                t = m_t.group(1).strip().strip("`")
                # dotted catalog ids KEEP their backticks so the later
                # backtick-table pass maps them to the registered view
                # (review finding r9: the exact path on `p.d.t` failed
                # with REQUIRES_SINGLE_PART_NAMESPACE before)
                return f"`{t}`" if "." in t else t
            return a  # (subquery) — kept verbatim, later passes transpile it

        base_rel = _rel(raw_args[0])
        base_col = raw_args[1].strip().strip("'\"")
        query_rel = _rel(raw_args[2])
        query_col = base_col
        rest = raw_args[3:]
        # optional 4th POSITIONAL argument: query_column_to_search
        # (BigQuery signature; round-11 probe — a quoted string here is
        # never a named argument)
        if rest and re.fullmatch(
            r"\s*(['\"])[A-Za-z_]\w*\1\s*", rest[0], re.DOTALL
        ):
            query_col = rest[0].strip().strip("'\"")
            rest = rest[1:]
        top_k = 10
        dist_kind = "EUCLIDEAN"
        for extra in rest:
            m_kv = re.match(r"\s*(\w+)\s*=>\s*(.+)$", extra, re.DOTALL)
            if not m_kv:
                raise ValueError(f"VECTOR_SEARCH: bad argument {extra!r}")
            key = m_kv.group(1).lower()
            val = m_kv.group(2).strip()
            if key == "top_k":
                top_k = int(val)
            elif key == "distance_type":
                dist_kind = val.strip("'\"").upper()
            elif key == "query_column_to_search":
                query_col = val.strip("'\"")
            elif key == "options":
                pass  # index tuning knobs — the exact path ignores them
            else:
                raise ValueError(f"VECTOR_SEARCH: unknown argument {key!r}")
        if dist_kind not in ("EUCLIDEAN", "COSINE", "DOT_PRODUCT"):
            raise ValueError(
                f"VECTOR_SEARCH: unsupported distance_type {dist_kind!r}"
            )
        dist = _vs_distance(
            f"vs_q.query.{query_col}", f"vs_b.{base_col}", dist_kind
        )
        replacement = (
            "(SELECT query, base, distance FROM ("
            " SELECT vs_qid, query, base, distance,"
            " row_number() OVER (PARTITION BY vs_qid ORDER BY distance"
            " ASC NULLS LAST)"
            " AS vs_rn FROM ("
            " SELECT /*+ BROADCAST(vs_q) */ vs_q.vs_qid AS vs_qid,"
            " vs_q.query AS query, struct(vs_b.*) AS base,"
            f" CAST({dist} AS DOUBLE) AS distance"
            " FROM (SELECT monotonically_increasing_id() AS vs_qid,"
            f" struct(vs_qt.*) AS query FROM {query_rel} AS vs_qt) AS vs_q"
            f" CROSS JOIN {base_rel} AS vs_b) AS vs_scored) AS vs_ranked"
            f" WHERE vs_rn <= {top_k})"
        )
        sql = sql[:start] + replacement + sql[end:]


_PIPE_OPS = (
    "WHERE, SELECT, EXTEND, AGGREGATE, ORDER BY, LIMIT, DROP, SET, "
    "RENAME, AS, JOIN (INNER/LEFT/RIGHT/FULL/CROSS), UNION ALL/DISTINCT, "
    "PIVOT, UNPIVOT, TABLESAMPLE"
)


def _rewrite_pipe_syntax(sql: str) -> str:
    """BigQuery pipe query syntax (GoogleSQL 2024) -> nested standard
    SQL. Each operator wraps the running relation in one subquery, so
    the result is exactly the plan Catalyst would see from the
    equivalent standard query — subquery nesting collapses in the
    optimizer; there is no per-stage materialization.

    Supported operators (a statement-level subset)::

        FROM t |> WHERE c |> SELECT [DISTINCT] list |> EXTEND e AS x
        |> AGGREGATE aggs [GROUP BY keys] |> ORDER BY ... |> LIMIT n
        [OFFSET m] |> DROP a, b |> SET a = e |> RENAME a AS b
        |> AS alias |> [LEFT|RIGHT|FULL|INNER|CROSS] JOIN r ON ...
        |> UNION ALL (query)

    LIMIT merges into a directly preceding ORDER BY wrap (top-k stays
    one TakeOrdered). Unknown operators raise a targeted error naming
    the supported set. DROP/SET/RENAME compose through the engine's
    ``SELECT * EXCEPT/REPLACE`` rewrites."""
    if "|>" not in sql:
        return sql
    segs = [s.strip() for s in split_top_level(sql, "|>")]
    if len(segs) < 2 or not segs[0]:
        return sql
    first = segs[0]
    m_from = re.match(r"FROM\s+(.+)$", first, re.IGNORECASE | re.DOTALL)
    if m_from:
        cur = f"(SELECT * FROM {m_from.group(1).strip()})"
    elif re.match(r"\(|SELECT\b|WITH\b", first, re.IGNORECASE):
        cur = first if first.startswith("(") else f"({first})"
    else:
        return sql
    alias_next: str | None = None
    last_was_order = False

    def rel(i: int) -> str:
        nonlocal alias_next
        a = alias_next or f"__p{i}"
        alias_next = None
        return f"{cur} AS {a}"

    for i, seg in enumerate(segs[1:], 1):
        if not seg:
            raise ValueError("pipe syntax: empty |> segment")
        kw_m = re.match(
            r"(ORDER\s+BY|GROUP\s+BY|UNION\s+ALL|UNION\s+DISTINCT|"
            r"LEFT\s+(?:OUTER\s+)?JOIN|RIGHT\s+(?:OUTER\s+)?JOIN|"
            r"FULL\s+(?:OUTER\s+)?JOIN|INNER\s+JOIN|CROSS\s+JOIN|\w+)",
            seg,
            re.IGNORECASE,
        )
        kw = re.sub(r"\s+", " ", kw_m.group(1).upper())
        rest = seg[kw_m.end() :].strip()
        was_order = False
        if kw == "WHERE":
            cur = f"(SELECT * FROM {rel(i)} WHERE {rest})"
        elif kw == "SELECT":
            cur = f"(SELECT {rest} FROM {rel(i)})"
        elif kw == "EXTEND":
            cur = f"(SELECT *, {rest} FROM {rel(i)})"
        elif kw == "AGGREGATE":
            parts = re.split(
                r"\bGROUP\s+BY\b", rest, maxsplit=1, flags=re.IGNORECASE
            )
            if len(parts) == 2:
                aggs, keys = parts[0].strip(), parts[1].strip()
                cur = (
                    f"(SELECT {keys}, {aggs} FROM {rel(i)}"
                    f" GROUP BY {keys})"
                )
            else:
                cur = f"(SELECT {rest} FROM {rel(i)})"
        elif kw == "ORDER BY":
            cur = f"(SELECT * FROM {rel(i)} ORDER BY {rest})"
            was_order = True
        elif kw == "LIMIT":
            if last_was_order:
                # merge into the ORDER BY wrap: one TakeOrdered
                cur = cur[:-1] + f" LIMIT {rest})"
            else:
                cur = f"(SELECT * FROM {rel(i)} LIMIT {rest})"
        elif kw == "DROP":
            cur = f"(SELECT * EXCEPT({rest}) FROM {rel(i)})"
        elif kw == "SET":
            items = []
            for a in split_top_level(rest):
                m_set = re.match(r"\s*(\w+)\s*=\s*(.+)$", a, re.DOTALL)
                if not m_set:
                    raise ValueError(f"pipe SET: bad assignment {a!r}")
                items.append(f"{m_set.group(2).strip()} AS {m_set.group(1)}")
            cur = f"(SELECT * REPLACE({', '.join(items)}) FROM {rel(i)})"
        elif kw == "RENAME":
            olds, news = [], []
            for a in split_top_level(rest):
                m_rn = re.match(
                    r"\s*(\w+)\s+AS\s+(\w+)\s*$", a, re.IGNORECASE
                )
                if not m_rn:
                    raise ValueError(f"pipe RENAME: bad clause {a!r}")
                olds.append(m_rn.group(1))
                news.append(f"{m_rn.group(1)} AS {m_rn.group(2)}")
            cur = (
                f"(SELECT * EXCEPT({', '.join(olds)}), {', '.join(news)}"
                f" FROM {rel(i)})"
            )
        elif kw in ("PIVOT", "UNPIVOT"):
            # Spark shares BigQuery's FROM-clause PIVOT/UNPIVOT shape,
            # so the pipe form is the same clause appended to the
            # running relation
            cur = f"(SELECT * FROM {rel(i)} {seg})"
        elif kw == "TABLESAMPLE":
            # Spark attaches TABLESAMPLE to the relation primary, ahead
            # of any alias
            cur = f"(SELECT * FROM {cur} {seg})"
        elif kw == "AS":
            alias_next = rest.strip().strip("`")
        elif kw.endswith("JOIN"):
            cur = f"(SELECT * FROM {rel(i)} {seg})"
        elif kw in ("UNION ALL", "UNION DISTINCT"):
            op = "UNION ALL" if kw == "UNION ALL" else "UNION"
            operand = rest.strip()
            if not operand.startswith("("):
                operand = f"({operand})"
            cur = (
                f"(SELECT * FROM {rel(i)} {op}"
                f" SELECT * FROM {operand} AS __pu{i})"
            )
        else:
            raise ValueError(
                f"pipe syntax: unsupported operator {kw!r}"
                f" (supported: {_PIPE_OPS})"
            )
        last_was_order = was_order
    final_alias = alias_next or "__pipe"
    return f"SELECT * FROM {cur} AS {final_alias}"


_GF_UNITS = {
    "SECOND": 1,
    "MINUTE": 60,
    "HOUR": 3600,
    "DAY": 86400,
    "WEEK": 604800,
}


def _rewrite_gap_fill(sql: str) -> str:
    """BigQuery ``GAP_FILL`` time-series table function -> pure-SQL
    derived table::

        FROM GAP_FILL({TABLE t | (sub)},
                      ts_column => 'ts',
                      bucket_width => INTERVAL n SECOND..WEEK
                      [, partitioning_columns => ['a', 'b']]
                      [, value_columns => [('v', 'locf'), ...]])

    Fill methods: ``null`` (default), ``locf`` (last observation
    carried forward), ``linear`` (interpolation between the bracketing
    observed values; NULL outside the observed range — BigQuery's
    behavior). Input timestamps are bucket-aligned with the same
    epoch-anchored modulo as TIMESTAMP_BUCKET.

    Spark plan: the spine is a per-partition ``sequence()`` explode (no
    driver loop, no cross join with a calendar dim), joined to the data
    on (partition, bucket) — one keyed shuffle — and the fill methods
    are IGNORE NULLS navigation windows inside the partition. Scales as
    a partition-local operation at any series count. The input relation
    is referenced twice (bounds + data); pass a table / materialized
    view rather than an expensive subquery at scale, or the source
    computation runs twice."""
    while True:
        hit = None
        for start, op, end, _n in iter_calls(sql, ("GAP_FILL",)):
            hit = (start, op, end)
            break
        if hit is None:
            return sql
        start, op, end = hit
        # bracket-aware arg split: value_columns => [(...), (...)] has
        # top-paren-level commas inside its [] literal
        raw = split_top_level(sql[op + 1 : end - 1])
        args: list[str] = []
        for frag in raw:
            if args and (
                args[-1].count("[") > args[-1].count("]")
            ):
                args[-1] += "," + frag
            else:
                args.append(frag)
        m_t = re.match(r"\s*TABLE\s+(.+)$", args[0], re.IGNORECASE | re.DOTALL)
        rel = m_t.group(1).strip().strip("`") if m_t else args[0].strip()
        ts_col = None
        width = None
        parts: list[str] = []
        values: list[tuple[str, str]] = []
        for extra in args[1:]:
            m_kv = re.match(r"\s*(\w+)\s*=>\s*(.+)$", extra, re.DOTALL)
            if not m_kv:
                raise ValueError(f"GAP_FILL: bad argument {extra!r}")
            key, val = m_kv.group(1).lower(), m_kv.group(2).strip()
            if key == "ts_column":
                ts_col = val.strip("'\"")
            elif key == "bucket_width":
                m_iv = re.match(
                    r"INTERVAL\s+(\d+)\s+(\w+)", val, re.IGNORECASE
                )
                if not m_iv or m_iv.group(2).upper() not in _GF_UNITS:
                    raise ValueError(
                        f"GAP_FILL: unsupported bucket_width {val!r}"
                    )
                width = int(m_iv.group(1)) * _GF_UNITS[m_iv.group(2).upper()]
            elif key == "partitioning_columns":
                parts = re.findall(r"'([^']+)'", val)
            elif key == "value_columns":
                pairs = re.findall(r"'([^']+)'\s*,\s*'([^']+)'", val)
                for c, meth in pairs:
                    if meth.lower() not in ("null", "locf", "linear"):
                        raise ValueError(
                            f"GAP_FILL: unknown fill method {meth!r} for"
                            f" {c!r} (null/locf/linear)"
                        )
                    values.append((c, meth.lower()))
            else:
                raise ValueError(f"GAP_FILL: unknown argument {key!r}")
        if not ts_col or not width:
            raise ValueError(
                "GAP_FILL needs ts_column => '...' and bucket_width =>"
                " INTERVAL ..."
            )
        t = f"CAST({ts_col} AS TIMESTAMP)"
        bt = (
            f"timestamp_seconds(unix_seconds({t}) - "
            f"pmod(unix_seconds({t}) - "
            f"unix_seconds(TIMESTAMP '1950-01-01'), {width}))"
        )
        p_sel = ", ".join(parts)
        p_pfx = f"{p_sel}, " if parts else ""
        v_sel = ", ".join(c for c, _ in values)
        v_pfx = f", {v_sel}" if values else ""
        win_base = (
            f"PARTITION BY {p_sel} ORDER BY gf_ts"
            if parts
            else "ORDER BY gf_ts"
        )
        w_prev = (
            f"OVER ({win_base} ROWS BETWEEN UNBOUNDED PRECEDING AND"
            " CURRENT ROW)"
        )
        w_next = (
            f"OVER ({win_base} ROWS BETWEEN CURRENT ROW AND UNBOUNDED"
            " FOLLOWING)"
        )
        outs = []
        for c, meth in values:
            if meth == "null":
                outs.append(c)
            elif meth == "locf":
                outs.append(
                    f"last_value({c}) IGNORE NULLS {w_prev} AS {c}"
                )
            else:  # linear
                pv = f"last_value({c}) IGNORE NULLS {w_prev}"
                pt = (
                    f"last_value(CASE WHEN {c} IS NOT NULL THEN gf_ts END)"
                    f" IGNORE NULLS {w_prev}"
                )
                nv = f"first_value({c}) IGNORE NULLS {w_next}"
                nt = (
                    f"first_value(CASE WHEN {c} IS NOT NULL THEN gf_ts END)"
                    f" IGNORE NULLS {w_next}"
                )
                interp = (
                    f"CAST({pv} AS DOUBLE) + "
                    f"(CAST({nv} AS DOUBLE) - CAST({pv} AS DOUBLE)) * "
                    f"(CAST(unix_seconds(gf_ts) - unix_seconds({pt}) AS"
                    f" DOUBLE) / CAST(unix_seconds({nt}) -"
                    f" unix_seconds({pt}) AS DOUBLE))"
                )
                outs.append(
                    f"CASE WHEN {c} IS NOT NULL THEN CAST({c} AS DOUBLE)"
                    f" WHEN {pv} IS NOT NULL AND {nv} IS NOT NULL"
                    f" THEN {interp} END AS {c}"
                )
        out_sel = ", ".join([p_pfx + f"gf_ts AS {ts_col}"] + outs)
        join_keys = ", ".join(parts + ["gf_ts"])
        group_by = f" GROUP BY {p_sel}" if parts else ""
        replacement = (
            f"(SELECT {out_sel} FROM ("
            f" SELECT {p_pfx}gf_ts{v_pfx} FROM ("
            f" SELECT {p_pfx}explode(sequence(min(gf_bts), max(gf_bts),"
            f" INTERVAL {width} SECOND)) AS gf_ts FROM ("
            f" SELECT {p_pfx}{bt} AS gf_bts FROM {rel}"
            f" ) AS gf_src{group_by}) AS gf_spine"
            f" LEFT JOIN (SELECT {p_pfx}{bt} AS gf_ts{v_pfx}"
            f" FROM {rel}) AS gf_data USING ({join_keys})"
            f" ) AS gf_joined)"
        )
        sql = sql[:start] + replacement + sql[end:]


# -- BigQuery RANGE type -----------------------------------------------------
#
# Spark has no range column type; the engine represents RANGE<T> as
# STRUCT<lower: T, upper: T> with NULL bounds meaning UNBOUNDED, and the
# half-open [lower, upper) semantics BigQuery defines. Scalar functions
# rewrite to struct algebra; RANGE_SESSIONIZE is a FROM-clause TVF that
# compiles to island-detection windows (one keyed shuffle, no self-join).

_RANGE_TYPES = {"DATE": "DATE", "DATETIME": "TIMESTAMP_NTZ", "TIMESTAMP": "TIMESTAMP"}

_RANGE_LIT_TAIL_RE = re.compile(
    r"\bRANGE\s*<\s*(DATE|DATETIME|TIMESTAMP)\s*>\s*$", re.IGNORECASE
)


def _range_struct(lower: str, upper: str) -> str:
    return f"named_struct('lower', {lower}, 'upper', {upper})"


def _rewrite_range_literals(sql: str) -> str:
    """``RANGE<DATE> '[2020-01-01, 2020-07-01)'`` -> bound struct, with
    UNBOUNDED (either side) -> typed NULL. Walks the quote structure
    like the JSON typed-literal strip, so the keyword is only consumed
    in code position immediately before the quoted body."""

    def fn(code: str, lit: str) -> tuple[str, str]:
        if not lit or lit[0] == "`":
            return code, lit
        m = _RANGE_LIT_TAIL_RE.search(code)
        bm = re.match(r"\s*\[(.*),(.*)\)\s*$", lit[1:-1]) if m else None
        if not (m and bm):
            return code, lit
        styp = _RANGE_TYPES[m.group(1).upper()]

        def bound(txt: str) -> str:
            txt = txt.strip()
            if not txt or txt.upper() in ("UNBOUNDED", "NULL"):
                return f"CAST(NULL AS {styp})"
            return f"{styp} '{txt}'"

        return (
            code[: m.start()],
            _range_struct(bound(bm.group(1)), bound(bm.group(2))),
        )

    return "".join(map("".join, starmap(fn, segments(sql))))


def _rewrite_range_fns(sql: str) -> str:
    """BigQuery RANGE scalar functions over the struct encoding:

    - ``RANGE(a, b)`` constructor -> struct (BigQuery errors when
      a >= b; the engine constructs the struct regardless — documented
      divergence, no hidden assertion in the hot path).
    - ``RANGE_START/RANGE_END`` -> bound access (NULL = unbounded).
    - ``RANGE_CONTAINS(r, x)``: the range-in-range form is recognized
      when the second argument is itself range-typed SYNTACTICALLY (a
      RANGE literal/constructor or another range function); any other
      expression is treated as the scalar-value form.
    - ``RANGE_OVERLAPS/RANGE_INTERSECT`` with UNBOUNDED-aware bound
      algebra (BigQuery errors on non-overlapping RANGE_INTERSECT
      inputs; the engine returns an inverted struct instead).
    - ``GENERATE_RANGE_ARRAY(r, step [, include_last_partial])`` ->
      sequence/filter/transform HOFs — type-agnostic half-open split
      with no epsilon arithmetic (the ``s < upper`` filter drops an
      exactly-landing terminal start).
    """
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql,
        (
            "RANGE_START", "RANGE_END", "RANGE_CONTAINS", "RANGE_OVERLAPS",
            "RANGE_INTERSECT", "GENERATE_RANGE_ARRAY", "RANGE",
        ),
    ):
        inner = _rewrite_range_fns(sql[open_idx + 1 : end - 1])
        args = [a.strip() for a in split_top_level(inner)]
        a = args[0] if args else ""
        b = args[1] if len(args) > 1 else ""
        lo1, up1 = f"({a}).lower", f"({a}).upper"
        lo2, up2 = f"({b}).lower", f"({b}).upper"
        if fn == "range" and len(args) == 2:
            repl = _range_struct(a, b)
        elif fn == "range_start" and len(args) == 1:
            repl = lo1
        elif fn == "range_end" and len(args) == 1:
            repl = up1
        elif fn == "range_contains" and len(args) == 2:
            # literals/constructors are already named_struct here (the
            # literal pass runs first; the constructor via recursion), so
            # struct syntax alone marks the range-in-range form — a range
            # passed as a bare column reference needs the constructor
            # spelling (documented syntactic limitation)
            if re.match(r"named_struct\s*\(", b, re.IGNORECASE):
                repl = (
                    f"(({lo1} IS NULL OR ({lo2} IS NOT NULL AND {lo2} >= {lo1}))"
                    f" AND ({up1} IS NULL OR ({up2} IS NOT NULL AND {up2} <= {up1})))"
                )
            else:
                repl = (
                    f"(({lo1} IS NULL OR {b} >= {lo1})"
                    f" AND ({up1} IS NULL OR {b} < {up1}))"
                )
        elif fn == "range_overlaps" and len(args) == 2:
            repl = (
                f"(({lo1} IS NULL OR {up2} IS NULL OR {lo1} < {up2})"
                f" AND ({lo2} IS NULL OR {up1} IS NULL OR {lo2} < {up1}))"
            )
        elif fn == "range_intersect" and len(args) == 2:
            new_lo = (
                f"CASE WHEN {lo1} IS NULL THEN {lo2}"
                f" WHEN {lo2} IS NULL THEN {lo1}"
                f" ELSE greatest({lo1}, {lo2}) END"
            )
            new_up = (
                f"CASE WHEN {up1} IS NULL THEN {up2}"
                f" WHEN {up2} IS NULL THEN {up1}"
                f" ELSE least({up1}, {up2}) END"
            )
            repl = _range_struct(new_lo, new_up)
        elif fn == "generate_range_array" and len(args) in (2, 3):
            step = b
            p_rs, p_rr = _fresh_lambda_params(
                [lo1, up1, step], "_rs", "_rr"
            )
            starts = (
                f"filter(sequence({lo1}, {up1}, {step}),"
                f" {p_rs} -> {p_rs} < {up1})"
            )
            arr = (
                f"transform({starts}, {p_rs} -> named_struct('lower', {p_rs},"
                f" 'upper', least({up1}, {p_rs} + {step})))"
            )
            keep_partial = True
            if len(args) == 3:
                keep_partial = args[2].strip().lower() != "false"
            if not keep_partial:
                arr = (
                    f"filter({arr}, {p_rr} -> {p_rr}.upper ="
                    f" {p_rr}.lower + {step})"
                )
            repl = arr
        else:
            repl = sql[start : open_idx + 1] + inner + ")"
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_range_sessionize(sql: str) -> str:
    """``RANGE_SESSIONIZE(TABLE t, 'r' [, ['k', ...]
    [, 'MEETS_OR_OVERLAPS'|'OVERLAPS']])`` -> derived table emitting the
    input rows plus ``session_range`` (the merged extent of each island
    of meeting/overlapping ranges per partition key).

    Spark plan: three window functions over ONE (partition, lower,
    upper) sort — running max-of-upper finds island breaks, a running
    sum numbers them, min/max per island builds the session range. A
    single keyed shuffle, no self-join, no driver loop; scales linearly
    in rows per partition key. NULL (unbounded) bounds are not
    supported here — the running max would skip them (documented; the
    scalar RANGE functions do handle UNBOUNDED)."""
    while True:
        hit = None
        for start, op, end, _n in iter_calls(sql, ("RANGE_SESSIONIZE",)):
            hit = (start, op, end)
            break
        if hit is None:
            return sql
        start, op, end = hit
        raw = split_top_level(sql[op + 1 : end - 1])
        args: list[str] = []
        for frag in raw:
            if args and args[-1].count("[") > args[-1].count("]"):
                args[-1] += "," + frag
            else:
                args.append(frag)
        m_t = re.match(r"\s*TABLE\s+(.+)$", args[0], re.IGNORECASE | re.DOTALL)
        rel = m_t.group(1).strip().strip("`") if m_t else args[0].strip()
        if len(args) < 2:
            raise ValueError("RANGE_SESSIONIZE needs (TABLE t, 'range_column')")
        rcol = args[1].strip().strip("'\"")
        parts = re.findall(r"'([^']+)'", args[2]) if len(args) > 2 else []
        mode = (
            args[3].strip().strip("'\"").upper()
            if len(args) > 3
            else "MEETS_OR_OVERLAPS"
        )
        if mode not in ("MEETS_OR_OVERLAPS", "OVERLAPS"):
            raise ValueError(
                f"RANGE_SESSIONIZE: unknown mode {mode!r}"
                " (MEETS_OR_OVERLAPS/OVERLAPS)"
            )
        # strict OVERLAPS starts a new session when ranges merely touch
        brk = ">=" if mode == "OVERLAPS" else ">"
        lo, up = f"({rcol}).lower", f"({rcol}).upper"
        p_sel = ", ".join(parts)
        win = (
            f"PARTITION BY {p_sel} ORDER BY {lo}, {up}"
            if parts
            else f"ORDER BY {lo}, {up}"
        )
        sess_win = f"PARTITION BY {p_sel + ', ' if parts else ''}rs_id"
        replacement = (
            f"(SELECT * EXCEPT (rs_new, rs_id),"
            f" named_struct('lower', min({lo}) OVER ({sess_win}),"
            f" 'upper', max({up}) OVER ({sess_win})) AS session_range"
            f" FROM (SELECT *, SUM(rs_new) OVER ({win}"
            f" ROWS UNBOUNDED PRECEDING) AS rs_id FROM ("
            f" SELECT *, CASE WHEN {lo} {brk} max({up}) OVER ({win}"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
            f" THEN 1 ELSE 0 END AS rs_new FROM {rel}) AS rs_flag"
            f") AS rs_num)"
        )
        sql = sql[:start] + replacement + sql[end:]


def _rewrite_bytes_fns(sql: str) -> str:
    """BYTES constructors Spark spells differently:
    ``CODE_POINTS_TO_BYTES(arr)`` -> hex-assembled binary (each element
    is a byte value 0-255, NOT a Unicode code point — BigQuery's
    contract for this function); ``SAFE_CONVERT_BYTES_TO_STRING(b)`` ->
    ``decode(b, 'UTF-8')`` (Java charset decoding substitutes U+FFFD
    for invalid sequences, matching BigQuery's replacement behavior);
    ``PARSE_NUMERIC/PARSE_BIGNUMERIC`` -> decimal CASTs at the
    engine's NUMERIC/BIGNUMERIC precisions."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql,
        (
            "CODE_POINTS_TO_BYTES", "SAFE_CONVERT_BYTES_TO_STRING",
            "PARSE_NUMERIC", "PARSE_BIGNUMERIC",
        ),
    ):
        inner = _rewrite_bytes_fns(sql[open_idx + 1 : end - 1]).strip()
        if fn == "code_points_to_bytes":
            repl = (
                f"unhex(concat_ws('', transform({inner},"
                f" _b -> lpad(hex(_b), 2, '0'))))"
            )
        elif fn == "parse_numeric":
            repl = f"CAST({inner} AS DECIMAL(38, 9))"
        elif fn == "parse_bignumeric":
            repl = f"CAST({inner} AS DECIMAL(38, 18))"
        else:
            repl = f"decode({inner}, 'UTF-8')"
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


# -- BigQuery GEOGRAPHY (point subset) ---------------------------------------

# Spherical radius (m). BigQuery measures on the WGS84 ellipsoid; the
# haversine great-circle approximation below diverges from it by up to
# ~0.3% — acceptable for the proximity/geofence shapes CRM pipelines
# use, and documented here as the engine's contract.
_EARTH_RADIUS_M = "6371008.8"


def _st_haversine(a: str, b: str) -> str:
    lat1, lon1 = f"radians(({a}).lat)", f"radians(({a}).lon)"
    lat2, lon2 = f"radians(({b}).lat)", f"radians(({b}).lon)"
    return (
        f"(2.0 * {_EARTH_RADIUS_M} * asin(sqrt("
        f"pow(sin(({lat2} - {lat1}) / 2), 2) + cos({lat1}) * cos({lat2})"
        f" * pow(sin(({lon2} - {lon1}) / 2), 2))))"
    )


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _st_geohash_expr(pt: str, precision: str) -> str:
    """``ST_GEOHASH(point[, maxchars])`` as pure JVM arithmetic: the
    classic geohash is bit k of floor((lon+180)/360 * 2^n) (resp. lat)
    interleaved lon-first, 5 bits per base-32 character (Niemeyer's
    public algorithm). HOF fold per character keeps every intermediate
    <= 31; the axis integers (<= 2^50 at the max precision 20) stay
    exact in doubles, shifts via pow(2, s) division. Literal precision
    only (the unrolled bit counts depend on it)."""
    p_lit = precision.strip()
    if not p_lit.isdigit() or not 1 <= int(p_lit) <= 20:
        raise ValueError(
            "ST_GEOHASH precision must be a literal 1..20, got "
            f"{precision!r}"
        )
    p = int(p_lit)
    n_lon = -(-5 * p // 2)  # ceil: even interleave slots
    n_lat = 5 * p // 2
    # the point expression is embedded inside every lambda body below,
    # so all three fold params are derived collision-free against it
    p_gc, p_ga, p_gt = _fresh_lambda_params([pt], "__gc", "__ga", "__gt")
    xe = (
        f"least(CAST(floor((({pt}).lon + 180.0) / 360.0 * {2 ** n_lon}"
        f") AS BIGINT), {2 ** n_lon - 1})"
    )
    ye = (
        f"least(CAST(floor((({pt}).lat + 90.0) / 180.0 * {2 ** n_lat}"
        f") AS BIGINT), {2 ** n_lat - 1})"
    )
    bit = (
        f"CAST((CASE WHEN {p_gt} % 2 = 0"
        f" THEN floor({xe} / pow(2.0, {n_lon - 1} - ({p_gt} DIV 2)))"
        f" ELSE floor({ye} / pow(2.0, {n_lat - 1} - ({p_gt} DIV 2)))"
        f" END % 2) AS INT)"
    )
    idx = (
        f"aggregate(sequence({p_gc} * 5, {p_gc} * 5 + 4), 0,"
        f" ({p_ga}, {p_gt}) -> {p_ga} * 2 + {bit})"
    )
    return (
        f"array_join(transform(sequence(0, {p - 1}), {p_gc} ->"
        f" substr('{_GEOHASH_B32}', 1 + {idx}, 1)), '')"
    )


def _rewrite_geography(sql: str) -> str:
    """BigQuery GEOGRAPHY — POINT subset only, encoded as
    STRUCT<lon: double, lat: double>: ST_GEOGPOINT, ST_X/ST_Y,
    ST_ASTEXT/ST_GEOGFROMTEXT (POINT WKT), ST_DISTANCE (haversine — see
    _EARTH_RADIUS_M note), ST_DWITHIN, and the ST_CENTROID_AGG
    aggregate (arithmetic mean of coordinates — exact for the
    small-extent clusters it's used on). Lines/polygons/geodesic edges
    are NOT implemented; those calls fall through unreplaced and fail
    loudly at name resolution rather than returning wrong geometry."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql,
        (
            "ST_GEOGPOINT", "ST_GEOGFROMTEXT", "ST_ASTEXT", "ST_X", "ST_Y",
            "ST_DISTANCE", "ST_DWITHIN", "ST_CENTROID_AGG", "ST_GEOHASH",
        ),
    ):
        inner = _rewrite_geography(sql[open_idx + 1 : end - 1])
        args = [a.strip() for a in split_top_level(inner)]
        a = args[0] if args else ""
        b = args[1] if len(args) > 1 else ""
        if fn == "st_geogpoint" and len(args) == 2:
            repl = (
                f"named_struct('lon', CAST({a} AS DOUBLE),"
                f" 'lat', CAST({b} AS DOUBLE))"
            )
        elif fn == "st_geogfromtext" and len(args) == 1:
            pat = r"POINT\\s*\\(\\s*(-?[0-9.]+)\\s+(-?[0-9.]+)\\s*\\)"
            repl = (
                f"named_struct("
                f"'lon', CAST(regexp_extract({a}, '{pat}', 1) AS DOUBLE),"
                f" 'lat', CAST(regexp_extract({a}, '{pat}', 2) AS DOUBLE))"
            )
        elif fn == "st_astext" and len(args) == 1:
            repl = (
                f"concat('POINT(', CAST(({a}).lon AS STRING), ' ',"
                f" CAST(({a}).lat AS STRING), ')')"
            )
        elif fn == "st_x" and len(args) == 1:
            repl = f"({a}).lon"
        elif fn == "st_y" and len(args) == 1:
            repl = f"({a}).lat"
        elif fn == "st_distance" and len(args) == 2:
            repl = _st_haversine(a, b)
        elif fn == "st_dwithin" and len(args) == 3:
            repl = f"({_st_haversine(a, b)} <= {args[2]})"
        elif fn == "st_centroid_agg" and len(args) == 1:
            repl = (
                f"named_struct('lon', avg(({a}).lon),"
                f" 'lat', avg(({a}).lat))"
            )
        elif fn == "st_geohash" and len(args) in (1, 2):
            repl = _st_geohash_expr(a, args[1] if len(args) == 2 else "20")
        else:
            repl = sql[start : open_idx + 1] + inner + ")"
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


# -- BigQuery AEAD / deterministic encryption --------------------------------


def _rewrite_aead(sql: str) -> str:
    """BigQuery column-level encryption -> Spark ``aes_encrypt`` /
    ``aes_decrypt`` (AES-GCM, the same AEAD primitive).

    Divergences, all documented here: keysets are RAW 32-byte AES keys
    (``KEYS.NEW_KEYSET`` returns ``unhex(sha2(uuid(), 256))``), not
    Tink-serialized keyset protos — ciphertexts are not portable to or
    from BigQuery; ``DETERMINISTIC_ENCRYPT`` approximates AES-SIV with
    GCM under a synthetic IV derived as sha2(key, plaintext, aad) —
    deterministic per (key, plaintext, aad) exactly like SIV, and
    decryptable by the standard GCM path since Spark prefixes the IV to
    the ciphertext, but not the RFC 5297 bit layout. The plaintext
    expression is referenced twice in the deterministic form (IV
    derivation + encryption) — pass a column, not an expensive call."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn in iter_calls(
        sql,
        (
            r"KEYS\.NEW_KEYSET",
            r"AEAD\.ENCRYPT",
            r"AEAD\.DECRYPT_STRING",
            r"AEAD\.DECRYPT_BYTES",
            "DETERMINISTIC_ENCRYPT",
            "DETERMINISTIC_DECRYPT_STRING",
            "DETERMINISTIC_DECRYPT_BYTES",
        ),
    ):
        inner = _rewrite_aead(sql[open_idx + 1 : end - 1])
        args = [a.strip() for a in split_top_level(inner)]
        if fn == "keys.new_keyset":
            repl = "unhex(sha2(uuid(), 256))"
        elif fn in ("aead.encrypt", "deterministic_encrypt") and len(args) == 3:
            k, pt, aad = args
            if fn == "deterministic_encrypt":
                iv = (
                    f"substr(unhex(sha2(concat(base64({k}),"
                    f" CAST({pt} AS STRING), {aad}), 256)), 1, 12)"
                )
            else:
                iv = "''"
            repl = f"aes_encrypt({pt}, {k}, 'GCM', 'NONE', {iv}, {aad})"
        elif fn in (
            "aead.decrypt_string",
            "aead.decrypt_bytes",
            "deterministic_decrypt_string",
            "deterministic_decrypt_bytes",
        ) and len(args) == 3:
            k, ct, aad = args
            repl = f"aes_decrypt({ct}, {k}, 'GCM', 'NONE', {aad})"
            if fn.endswith("_string"):
                repl = f"CAST({repl} AS STRING)"
        else:
            repl = sql[start : open_idx + 1] + inner + ")"
        out.append(sql[pos:start])
        out.append(repl)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


_CT_HEAD_RE = re.compile(
    r"^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+|TEMP\s+)?TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?`?[\w.\-]+`?)(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_AS_RE = re.compile(r"\bAS\b", re.IGNORECASE)


def _rewrite_create_table_layout(sql: str) -> str:
    """Strip BigQuery physical-layout clauses from CREATE TABLE:
    ``PARTITION BY expr``, ``CLUSTER BY cols`` and ``OPTIONS(...)``
    between the table name and ``AS`` (or at the end of a schema-only
    definition). They are storage-layout hints for BigQuery's engine;
    in this engine the catalog's layout is directory-per-table parquet
    with file-level pruning, and partition-shaped reads come from the
    wildcard-shard machinery — semantics of the created table are
    identical, so scripts keep running instead of failing to parse.
    The stripped text is validated to contain ONLY those clauses;
    anything else is left untouched for Spark to reject loudly."""
    m = _CT_HEAD_RE.match(sql)
    if not m:
        return sql
    head, rest = m.group(1), m.group(2)
    if re.match(r"\s+FUNCTION\b", rest, re.IGNORECASE):
        return sql
    m_as = find_top_level(rest, _AS_RE)
    mid, tail = (
        (rest[: m_as.start()], rest[m_as.start() :])
        if m_as
        else (rest, "")
    )
    # a leading parenthesized column list (schema form) is preserved
    schema = ""
    ms = re.match(r"\s*\(", mid)
    if ms:
        send = balanced_end(mid, ms.end() - 1)
        if send > 0:
            schema, mid = mid[:send], mid[send:]
    probe = mid
    found = False
    while probe.strip():
        p = probe.lstrip()
        mk = re.match(
            r"(PARTITION\s+BY|CLUSTER\s+BY|OPTIONS|DEFAULT\s+COLLATE)\b",
            p,
            re.IGNORECASE,
        )
        if not mk:
            return sql  # unknown clause — don't touch the statement
        found = True
        # consume up to the next top-level clause keyword or the end
        nxt = find_top_level(
            p,
            re.compile(
                r"\b(PARTITION\s+BY|CLUSTER\s+BY|OPTIONS|DEFAULT\s+COLLATE)\b",
                re.IGNORECASE,
            ),
            mk.end(),
        )
        probe = p[nxt.start() :] if nxt else ""
    if not found:
        return sql
    return head + schema + (" " + tail.lstrip() if tail else "")


def extract_create_table_layout(
    sql: str,
    include_plain: bool = False,
) -> tuple[str, str, str | None, list[str]] | None:
    """``CREATE TABLE ... PARTITION BY expr [CLUSTER BY cols] ...`` ->
    ``(sql_without_layout_clauses, table_name, partition_expr,
    cluster_cols)`` so the executor can HONOR the physical layout
    (VERDICT r7 #1) instead of stripping it. Returns None when the
    statement has no PARTITION BY/CLUSTER BY between the table name and
    ``AS`` (OPTIONS/DEFAULT COLLATE alone are left for the stripping
    rewriter) — unless ``include_plain`` is set, in which case a plain
    unpartitioned ``CREATE TABLE ... AS`` / schema-only CREATE also
    returns (with ``partition_expr=None``) so a catalog-backed executor
    can route it onto the catalog plane (VERDICT r9 #1: session-plane
    CTAS tables had no fingerprints, constraints, time travel or
    OPTIONS — and index freshness could not see their mutations).
    TEMP tables return None either way — BigQuery disallows partitioned
    temp tables, and temp tables are session-scoped by contract.
    CLONE/COPY/LIKE forms return None (their mid-clauses don't parse
    as layout clauses); they are handled by the executor's DDL plane."""
    m = _CT_HEAD_RE.match(sql)
    if not m:
        return None
    head, rest = m.group(1), m.group(2)
    if re.search(r"\b(TEMP|TEMPORARY)\s+TABLE\b", head, re.IGNORECASE):
        return None
    if re.match(r"\s+FUNCTION\b", rest, re.IGNORECASE):
        return None
    m_name = re.search(r"(`?[\w.\-]+`?)\s*$", head)
    table = m_name.group(1).strip("`")
    m_as = find_top_level(rest, _AS_RE)
    mid, tail = (
        (rest[: m_as.start()], rest[m_as.start() :]) if m_as else (rest, "")
    )
    schema = ""
    ms = re.match(r"\s*\(", mid)
    if ms:
        send = balanced_end(mid, ms.end() - 1)
        if send > 0:
            schema, mid = mid[:send], mid[send:]
    partition_expr: str | None = None
    cluster_cols: list[str] = []
    kept: list[str] = []
    probe = mid
    clause_re = re.compile(
        r"\b(PARTITION\s+BY|CLUSTER\s+BY|OPTIONS|DEFAULT\s+COLLATE)\b",
        re.IGNORECASE,
    )
    while probe.strip():
        p = probe.lstrip()
        mk = re.match(
            r"(PARTITION\s+BY|CLUSTER\s+BY|OPTIONS|DEFAULT\s+COLLATE)\b",
            p,
            re.IGNORECASE,
        )
        if not mk:
            return None  # unknown clause — leave for Spark to reject
        nxt = find_top_level(p, clause_re, mk.end())
        seg_end = nxt.start() if nxt else len(p)
        body = p[mk.end() : seg_end].strip()
        kw = re.sub(r"\s+", " ", mk.group(1)).upper()
        if kw == "PARTITION BY":
            partition_expr = body
        elif kw == "CLUSTER BY":
            cluster_cols = [
                c.strip().strip("`") for c in split_top_level(body)
            ]
        else:
            kept.append(p[: seg_end].strip())
        probe = p[seg_end:]
    if partition_expr is None and not cluster_cols:
        # plain CREATE: only routable when it defines contents (an AS
        # query) or a schema — a bare name (or an unparsed CLONE/LIKE,
        # which never reaches here) stays with Spark's native DDL
        if not include_plain or not (schema or m_as):
            return None
    clean = (
        head
        + schema
        + ("".join(" " + k for k in kept))
        + (" " + tail.lstrip() if tail else "")
    )
    return clean, table, partition_expr, cluster_cols


def _rewrite_materialized_view(sql: str) -> str:
    """``CREATE [OR REPLACE] MATERIALIZED VIEW v [OPTIONS(...)] AS q``
    -> the engine's CTAS machinery (a point-in-time materialization
    queryable like any table; BigQuery's auto/incremental refresh has
    no batch-engine analog — re-running the statement IS the refresh,
    documented here). OPTIONS (enable_refresh, refresh_interval_minutes)
    are validated-ignored; DROP MATERIALIZED VIEW maps to DROP TABLE."""
    m = re.match(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+"
        r"(?:IF\s+NOT\s+EXISTS\s+)?(`?[\w.\-]+`?)\s*",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        rest = sql[m.end():]
        # OPTIONS(...) may nest parens/brackets (labels=[('a','b')]):
        # find its end with the balanced scanner, not a non-greedy regex
        mo = re.match(r"OPTIONS\s*\(", rest, re.IGNORECASE)
        if mo:
            end = balanced_end(rest, mo.end() - 1)
            if end > 0:
                rest = rest[end:].lstrip()
        ma = re.match(r"AS\b(.*)$", rest, re.IGNORECASE | re.DOTALL)
        if ma:
            return f"CREATE OR REPLACE TABLE {m.group(1)} AS{ma.group(1)}"
    return re.sub(
        r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+",
        "DROP TABLE ",
        sql,
        flags=re.IGNORECASE,
    )


def _rewrite_create_view(sql: str) -> str:
    """``CREATE [OR REPLACE] VIEW `p.d.v` AS q`` -> temporary view (the
    engine's catalog registers all relations as session views; a Spark
    permanent view cannot reference them)."""
    return re.sub(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+",
        "CREATE OR REPLACE TEMPORARY VIEW ",
        sql,
        flags=re.IGNORECASE,
    )


_SYSTEM_TIME_RE = re.compile(
    r"(`[^`]+`|[A-Za-z_][\w.\-]*)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\b",
    re.IGNORECASE,
)


def _scan_asof_expr(sql: str, i: int) -> int:
    """Index just past the timestamp expression starting at ``i``: one
    primary (string literal / identifier / function call /
    parenthesized expr / TIMESTAMP 'lit') plus ``+``/``-`` arithmetic
    continuations including ``INTERVAL n UNIT`` — the grammar BigQuery
    accepts after FOR SYSTEM_TIME AS OF. Stops before any alias or
    clause keyword (those sit after the expression at top level)."""
    n = len(sql)

    def ws(j: int) -> int:
        while j < n and sql[j].isspace():
            j += 1
        return j

    def string_end(j: int) -> int | None:
        tok = TOKEN_RE.match(sql, j)
        return tok.end() if tok and tok.lastgroup == "string" else None

    def primary(j: int) -> int:
        j = ws(j)
        if j >= n:
            return j
        if (e := string_end(j)) is not None:
            return e
        ch = sql[j]
        if ch == "(":
            e = balanced_end(sql, j)
            return e if e != -1 else n
        m = re.match(r"[A-Za-z_@][\w.\-@]*", sql[j:])
        if not m:
            return j
        j2 = j + len(m.group(0))
        k = ws(j2)
        if k < n and sql[k] == "(":
            e = balanced_end(sql, k)
            return e if e != -1 else n
        if m.group(0).upper() in ("TIMESTAMP", "DATETIME", "DATE") and (
            e := string_end(k)
        ) is not None:
            return e
        return j2

    j = primary(i)
    while True:
        k = ws(j)
        if k < n and sql[k] in "+-":
            k2 = ws(k + 1)
            mi = re.match(r"INTERVAL\b", sql[k2:], re.IGNORECASE)
            if mi:
                k3 = ws(k2 + len(mi.group(0)))
                mv = re.match(r"[\w']+", sql[k3:])
                k4 = ws(k3 + (len(mv.group(0)) if mv else 0))
                mu = re.match(r"[A-Za-z_]+", sql[k4:])
                j = k4 + (len(mu.group(0)) if mu else 0)
            else:
                j = primary(k + 1)
            continue
        return j


def _rewrite_system_time(sql: str, asof_handler) -> str:
    """``<table> FOR SYSTEM_TIME AS OF <expr>`` -> a temp view over the
    catalog's archived version directory (Catalog.resolve_as_of).
    ``asof_handler(table_id, expr_sql) -> view_name`` is supplied by the
    executor (it evaluates the expression and registers the view);
    without one the construct fails loudly instead of reaching Spark's
    parser."""
    while True:
        # a match must start in code (a backtick table name is code here)
        masked = mask(sql, ("hint", "comment", "string"))
        found = _SYSTEM_TIME_RE.search(sql)
        while found and masked[found.start()] != sql[found.start()]:
            found = _SYSTEM_TIME_RE.search(sql, found.start() + 1)
        if found is None:
            return sql
        if asof_handler is None:
            raise ValueError(
                "FOR SYSTEM_TIME AS OF requires a catalog-backed"
                " executor (SparkSQLExecutor with a Catalog context)"
            )
        end = _scan_asof_expr(sql, found.end())
        expr = sql[found.end() : end].strip()
        table = found.group(1).strip("`")
        view = asof_handler(table, expr)
        sql = sql[: found.start()] + view + sql[end:]


def transpile_statement(
    sql: str,
    resolver=None,
    approx_sketches: bool = False,
    asof_handler=None,
) -> str:
    """Apply all BigQuery->Spark rewrites to one statement.

    ``resolver(table_id) -> view_name`` materializes wildcard-shard and
    ``__TABLES_SUMMARY__`` relations (supplied by the executor's
    catalog; defaults to a pure name mapping).

    ``approx_sketches`` routes the HLL_COUNT/APPROX_COUNT_DISTINCT
    family to Spark's constant-memory DataSketches builtins instead of
    the exact-set algebra (see ``_rewrite_hll_family``)."""
    out = sql
    # ONE comment-blanking pass makes every downstream rewrite
    # comment-free: each one interpolates argument text into generated
    # SQL, and a comment inside an argument would swallow whatever the
    # rewrite appends on the same line. ``/*+ */`` hints survive — the
    # engine emits BROADCAST hints itself, and users may write them.
    out = mask(out, ("comment",))
    out = _rewrite_temp_function(out)
    # triple-quoted literals normalize immediately after the JS-UDF
    # pass (which consumes its own '''bodies''') so every later pass
    # sees only plain single-quoted literals
    out = _rewrite_triple_quoted_strings(out)
    out = _rewrite_bytes_literals(out)
    out = _rewrite_create_table_layout(out)
    out = _rewrite_materialized_view(out)
    out = _rewrite_create_view(out)
    # BigQuery UI dialect markers
    out = re.sub(r"^\s*#\s*(standardSQL|legacySQL)\b", "", out, flags=re.IGNORECASE)
    # 2-arg analytic percentiles BEFORE the empty-OVER() fill below (the
    # DISC rewrite appends its own ORDER BY inside the nested window)
    out = _rewrite_ignore_nulls(out)
    out = _rewrite_percentile_window(out)
    # BigQuery allows unordered ranking windows (ROW_NUMBER() OVER());
    # Spark demands an ORDER BY — constant ordering reproduces BigQuery's
    # arbitrary-order semantics
    out = re.sub(r"\bOVER\s*\(\s*\)", "OVER (ORDER BY 1)", out, flags=re.IGNORECASE)
    out = _rewrite_raw_strings(out)
    # time travel before any FROM-clause rewrite sees the table ref
    if re.search(r"\bSYSTEM_TIME\b", out, re.IGNORECASE):
        out = _rewrite_system_time(out, asof_handler)
    # generic SAFE. scalar prefix: BigQuery returns NULL instead of an
    # error for any SAFE.-prefixed scalar call. Functions with try_*
    # twins keep exact semantics (SAFE.PARSE_* below, SAFE_CAST/
    # SAFE_DIVIDE/... via renames); the rest strip to the plain function
    # so the script runs — most Spark twins are already NULL-tolerant,
    # and the divergence (an ANSI error instead of NULL on genuinely
    # erroring input) is documented here rather than failing to resolve
    # `SAFE.X` at all.
    out = sub_code(
        out,
        lambda seg: re.sub(
            r"\bSAFE\.(?!PARSE_)(\w+\s*\()", r"\1", seg, flags=re.IGNORECASE
        ),
    )
    # JSON typed literals: Spark has no JSON column type; the engine's
    # JSON accessors (INT64/BOOL/LAX_*/JSON_VALUE...) all operate on the
    # JSON text, so the literal reduces to its string
    out = _strip_json_typed_literals(out)
    # SELECT AS VALUE: BigQuery makes the subquery's row type the bare
    # single-column value instead of a 1-field struct — which is what
    # Spark subqueries produce anyway, so the modifier strips exactly
    out = sub_code(
        out,
        lambda seg: re.sub(
            r"\bSELECT\s+(DISTINCT\s+)?AS\s+VALUE\b",
            lambda m: "SELECT " + (m.group(1) or ""),
            seg,
            flags=re.IGNORECASE,
        ),
    )
    out = _rewrite_pipe_syntax(out)
    out = _rewrite_vector_search(out)
    out = _rewrite_gap_fill(out)
    # RANGE literals first so the scalar-fn pass sees struct syntax for
    # its range-vs-value argument detection; the sessionize TVF reads
    # the raw range column so it composes with either
    out = _rewrite_range_sessionize(out)
    out = _rewrite_range_literals(out)
    out = _rewrite_range_fns(out)
    out = _rewrite_qualify(out)
    out = _rewrite_array_subquery(out)
    out = _rewrite_correlated_unnest(out)
    out = _rewrite_lateral_unnest(out)
    out = _rewrite_from_unnest(out)
    out = _rewrite_backtick_tables(out, resolver)
    out = _rewrite_star_replace(out)
    out = _rewrite_select_except(out)
    # BigQuery TABLESAMPLE SYSTEM (n PERCENT) -> Spark TABLESAMPLE (n PERCENT)
    out = re.sub(
        r"\bTABLESAMPLE\s+SYSTEM\s*\(", "TABLESAMPLE (", out, flags=re.IGNORECASE
    )
    out = _rewrite_cast_date_format(out)
    out = _rewrite_array_literals(out)
    out = _rewrite_typed_struct(out)
    out = _rewrite_safe_subscript(out)
    out = _rewrite_offset_ordinal(out)
    out = _rewrite_time_fns(out)
    out = _rewrite_extract_parts(out)
    out = _rewrite_date_ctor(out)
    out = _rewrite_format_date(out)
    out = _rewrite_interval_arith(out)
    out = _rewrite_datetime_fn(out)
    out = _rewrite_farm_fingerprint(out)
    out = re.sub(r"\bREGEXP_CONTAINS\s*\(", "regexp_like(", out, flags=re.IGNORECASE)
    out = re.sub(r"\bSAFE_DIVIDE\s*\(", "try_divide(", out, flags=re.IGNORECASE)
    out = re.sub(
        r"\bGENERATE_UUID\s*\(\s*\)", "uuid()", out, flags=re.IGNORECASE
    )
    out = _rewrite_string_agg(out)
    out = _rewrite_regexp_extract(out)
    out = _rewrite_regexp_replace(out)
    out = _rewrite_regexp_instr(out)
    out = _rewrite_initcap(out)
    out = _rewrite_least_greatest(out)
    out = _rewrite_to_hex(out)
    out = _rewrite_array_agg(out)
    out = _rewrite_datetime_diff(out)
    out = _rewrite_datetime_trunc(out)
    out = _rewrite_parse_datetime(out)
    out = _rewrite_arith_fns(out)
    out = _rewrite_split(out)
    out = _rewrite_hll_family(out, approx_sketches)
    out = _rewrite_kll_family(out, approx_sketches)
    out = _rewrite_approx_quantiles(out)
    out = _rewrite_misc_fns(out)
    out = _rewrite_bytes_fns(out)
    out = _rewrite_geography(out)
    out = _rewrite_aead(out)
    out = _rewrite_ml_scalers(out)
    out = _rewrite_numeric_trunc(out)
    out = _rewrite_fn_renames(out)
    out = re.sub(r"\bAS\s+NUMERIC\b", "AS DECIMAL(38, 9)", out, flags=re.IGNORECASE)
    out = re.sub(r"\bAS\s+BIGNUMERIC\b", "AS DECIMAL(38, 18)", out, flags=re.IGNORECASE)
    # BigQuery type spellings in CAST / UDF bodies (INT64, FLOAT64, ...)
    out = _map_bq_types(out)
    if "bq_normalize" in out:
        # the NORMALIZE rewrites depend on the engine's registered UDFs;
        # register them lazily on the active session so callers that go
        # straight to spark.sql(transpile_statement(...)) — without the
        # SparkSQLExecutor entry point — still resolve the functions
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            from .functions import register_engine_udfs

            register_engine_udfs(active)
    return out


def transpile_expression(expr: str) -> str:
    """Transpile ONE scalar expression (BigQuery -> Spark) by wrapping
    it in a probe SELECT and unwrapping the result. Used for partition
    expressions (``DATE(ts)``, ``TIMESTAMP_TRUNC(ts, DAY)``,
    ``RANGE_BUCKET(...)``) that the catalog later evaluates with
    ``F.expr`` on the write path — outside any statement context."""
    t = transpile_statement(f"SELECT {expr} AS __te__ FROM __te_t__")
    m = re.match(
        r"^\s*SELECT\s+(.*)\s+AS\s+__te__\s+FROM\s+__te_t__\s*$",
        t,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot transpile expression: {expr!r}")
    return m.group(1).strip()


_CTE_SEP_RE = re.compile(r"\s*,")


def extract_with_clause(sql: str) -> str:
    """Return the leading ``WITH name AS (...), ...`` clause (or '').

    Used to re-scope outer CTEs when an inner ``ML.PREDICT``/
    ``ML.EVALUATE`` subquery references them (the reference's
    evaluate-model SQL does exactly this)."""
    masked = mask(sql)
    m = re.match(r"\s*WITH\b", masked, re.IGNORECASE)
    if not m:
        return ""
    i = m.end()
    while True:
        # skip "name AS (", then its balanced body
        open_paren = masked.find("(", i)
        j = balanced_end(masked, open_paren) if open_paren >= 0 else -1
        if j < 0:
            return ""
        # another CTE follows?
        m2 = _CTE_SEP_RE.match(masked, j)
        if not m2:
            return sql[:j]
        i = m2.end()


_CREATE_OR_REPLACE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+(`?[\w.\-]+`?)(.*)$",
    re.IGNORECASE | re.DOTALL,
)


def expand_create_or_replace_table(stmt: str) -> list[str]:
    """``CREATE OR REPLACE TABLE x ... AS ...`` -> [DROP IF EXISTS,
    CREATE TABLE ...]: Spark's v1 session catalog rejects REPLACE TABLE
    AS SELECT (a v2-catalog feature), but the reference's generated DDL
    uses OR REPLACE everywhere (ref: model_bqml.sql:18,31; output.sql:9).
    """
    m = _CREATE_OR_REPLACE_TABLE_RE.match(stmt)
    if not m:
        return [stmt]
    name, rest = m.group(1), m.group(2)
    return [
        f"DROP TABLE IF EXISTS {name}",
        f"CREATE TABLE {name}{rest}",
    ]


_SYSVAR_RE = re.compile(
    r"@@(row_count|last_job_id|time_zone)\b", re.IGNORECASE
)


def splice_system_vars(sql: str, values: dict) -> str:
    """Replace BigQuery scripting system variables (``@@row_count``,
    ``@@last_job_id``, ``@@time_zone``) with typed literals — only
    outside quoted strings/backticks and comments. ``values`` maps the
    lowercase variable name to its current Python value (int/str/None);
    unlisted names pass through untouched (``@@error.*`` has its own
    handler-scope splice)."""
    if "@@" not in sql:
        return sql
    out: list[str] = []
    pos = 0
    for m in _SYSVAR_RE.finditer(mask(sql)):
        name = m.group(1).lower()
        if name in values:
            out.append(sql[pos : m.start()])
            out.append(script_literal(values[name]))
            pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


_INSERT_COLUMNS_RE = re.compile(
    r"\bINSERT\b(?:\s+INTO\b)?"
    r"(?:\s+(?!VALUES\b|ROW\b|SELECT\b|WITH\b)[\w.\-]+)?\s*\(",
    re.IGNORECASE,
)
_COLUMN_LIST_RE = re.compile(r"(?!\s*(?:SELECT|WITH)\b)[\w\s,]+", re.IGNORECASE)
_SET_CLAUSE_RE = re.compile(r"\bSET\b", re.IGNORECASE)
_SET_TARGET_RE = re.compile(r"\w+\s*=(?!=)")
_SET_TOKEN_RE = re.compile(r"\w+|[(),;]")


def _column_name_offsets(sql: str) -> set[int]:
    """Start offsets of the identifiers that can only name a column: the
    column list of ``INSERT [INTO] t (a, b)`` (and MERGE's ``INSERT (a,
    b)``), and each assignment target of ``UPDATE ... SET`` / MERGE's
    ``UPDATE SET``. BigQuery resolves those names against the target
    table, so a DECLAREd variable of the same name never replaces them."""
    s = mask(sql)
    out: set[int] = set()
    for m in _INSERT_COLUMNS_RE.finditer(s):
        end = balanced_end(s, m.end() - 1)
        body = s[m.end(): end - 1]
        if end > 0 and _COLUMN_LIST_RE.fullmatch(body):
            out.update(m.end() + w.start() for w in re.finditer(r"\w+", body))
    for m in _SET_CLAUSE_RE.finditer(s):
        # walk the assignment list: a target opens the clause and follows
        # each top-level comma; a top-level WHERE/FROM/WHEN (outside a
        # CASE expression), a closing paren or ``;`` ends it
        depth = case = 0
        want_target, start = True, m.end()
        for t in _SET_TOKEN_RE.finditer(s, m.end()):
            tok = t.group().upper()
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
                if depth < 0:
                    break
            elif tok == ";":
                break
            elif depth:
                continue
            elif tok == ",":
                want_target, start = case == 0, t.end()
            elif tok == "CASE":
                case += 1
            elif tok == "END" and case:
                case -= 1
            elif case == 0 and tok in ("WHERE", "FROM", "WHEN"):
                break
            elif want_target:
                want_target = False
                lead = s[start: t.start()]
                if not lead.strip() and _SET_TARGET_RE.match(s, t.start()):
                    out.add(t.start())
    return out


@dataclass
class ScriptContext:
    """Scripting variable state across statements (DECLARE/SET)."""

    variables: dict[str, object] = field(default_factory=dict)
    #: @@row_count system variable — rows modified/inserted/deleted by
    #: the most recent DML statement in the script (the executor syncs
    #: this after every statement; 0 before any DML has run)
    row_count: int = 0
    #: other system variables the executor syncs (@@last_job_id,
    #: @@time_zone) — lowercase name -> current value
    system: dict = field(default_factory=dict)

    def substitute(self, sql: str) -> str:
        """Replace declared variable names with literals — only outside
        quoted strings/backticks, so a variable name inside a string
        literal survives untouched. System variables (@@row_count,
        @@last_job_id, @@time_zone) splice through the same walk."""
        sql = splice_system_vars(
            sql, {"row_count": self.row_count, **self.system}
        )
        if not self.variables:
            return sql
        columns = _column_name_offsets(sql)
        out: list[str] = []
        pos = 0
        n = len(sql)
        names = re.compile(
            r"\b(?:" + "|".join(map(re.escape, self.variables)) + r")\b"
        )
        for m in names.finditer(mask(sql)):
            i = m.start()
            # a variable NAME is never a reference in these positions
            # (round-11 probe: the blind replace corrupted them):
            # qualified columns ``t.o``, alias position ``... AS o``,
            # loop labels ``o: REPEAT`` / ``BREAK o``, and the column
            # names of INSERT column lists and SET targets
            if i in columns:
                continue
            k = i - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k >= 0 and sql[k] == ".":
                continue
            mw = re.search(r"([A-Za-z_]\w*)\s*$", sql[:i])
            if mw and mw.group(1).upper() in (
                "AS", "BREAK", "LEAVE", "CONTINUE", "ITERATE",
            ):
                continue
            e = m.end()
            while e < n and sql[e].isspace():
                e += 1
            if e < n and sql[e] == ":" and not sql.startswith("::", e):
                continue
            out.append(sql[pos:i])
            out.append(script_literal(self.variables[m.group()]))
            pos = m.end()
        out.append(sql[pos:])
        return "".join(out)


def script_literal(value: object) -> str:
    """Render a Python scripting value as a typed SQL literal (shared by
    DECLARE/SET variable splicing and EXECUTE IMMEDIATE USING params)."""
    if isinstance(value, str):
        # backslashes first: Spark string literals interpret \t, \n, ...
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (bytes, bytearray)):
        # Spark's binary literal form (Python's b'...' repr won't parse)
        return "X'" + bytes(value).hex() + "'"
    if isinstance(value, datetime.datetime):
        return f"TIMESTAMP '{value}'"
    if isinstance(value, datetime.date):
        return f"DATE '{value}'"
    return str(value)


def splice_query_params(sql: str, params: dict[str, object]) -> str:
    """Replace ``@name`` query parameters with typed literals, only
    outside quoted strings (EXECUTE IMMEDIATE ... USING)."""
    out: list[str] = []
    pos = 0
    for m in re.finditer(r"@(\w+)", mask(sql)):
        if m.group(1) in params:
            out.append(sql[pos : m.start()])
            out.append(script_literal(params[m.group(1)]))
            pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


#: script-statement kinds by head, tried in order (the first match
#: wins); the groups are what the executor's handler for the kind reads
_STATEMENT_KINDS = tuple(
    (kind, re.compile(pat, re.IGNORECASE | re.DOTALL))
    for kind, pat in (
        # every SET @@... is a system-variable assignment, well formed
        # or not, so none can reach Spark's own SET command
        ("set_system", r"^\s*SET\s+@@(\w*(?:\.\w+)*)\s*(?:=\s*(.+))?"),
        ("declare", r"^\s*DECLARE\s+(\w+)\s+[\w<>,() ]+?(?:\s+DEFAULT\s+(.+))?$"),
        ("set", r"^\s*SET\s+(\w+)\s*=\s*(.+)$"),
        (
            "create_procedure",
            r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?PROCEDURE\s+`?([\w.\-]+)`?"
            r"\s*\((.*?)\)\s*(BEGIN\b.*)$",
        ),
        ("call", r"^\s*CALL\s+`?([\w.\-]+)`?\s*\((.*)\)\s*$"),
        ("raise", r"^\s*RAISE(?:\s+USING\s+MESSAGE\s*=\s*(.+?))?\s*$"),
        ("flow", r"^\s*(BREAK|LEAVE|CONTINUE|ITERATE|RETURN)(?:\s+(\w+))?\s*$"),
        # optional loop label ("lbl: WHILE ... END WHILE lbl")
        (
            "block",
            r"^\s*(?:([A-Za-z_]\w*)\s*:\s*)?"
            r"(?:IF|WHILE|LOOP|REPEAT|FOR|CASE|BEGIN(?!\s+TRANSACTION\b))\b",
        ),
        ("execute_immediate", r"^\s*EXECUTE\s+IMMEDIATE\s+(.*)$"),
    )
)


def classify_statement(sql: str) -> tuple[str, re.Match | None]:
    """The kind of one script statement (``split_script`` output) and the
    match of its head: 'set_system' (``SET @@name [= expr]``),
    'declare', 'set', 'create_procedure', 'call', 'raise', 'flow'
    (BREAK/LEAVE/CONTINUE/ITERATE/RETURN [label]), 'block' (an optionally
    labelled IF/WHILE/LOOP/REPEAT/FOR/CASE/BEGIN block),
    'execute_immediate', or 'sql' (match None) for everything else."""
    for kind, pat in _STATEMENT_KINDS:
        m = pat.match(sql)
        if m:
            return kind, m
    return "sql", None
