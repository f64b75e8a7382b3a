"""BigQuery DML — MERGE / UPDATE / DELETE / INSERT / TRUNCATE — on
parquet tables.

The reference pipes DML scripts verbatim into BigQuery
(ref: backend/jobs/workers/bigquery/bq_script_executor.py:23-79), where
MERGE-based upserts are the standard way CRM pipelines maintain audience
and conversion tables. Spark SQL has no UPDATE/DELETE/MERGE on plain
parquet (those are table-format features), so the engine implements them
as **copy-on-write rewrites**: parse the statement, express the new
table contents as ONE declarative Spark SQL query (Catalyst optimizes it
like any other query — broadcast small MERGE sources, push filters), and
atomically swap the storage. This is exactly the mechanism Delta/Iceberg
use for row-level DML, minus the transaction log; at 100 TB the swap
write is the unavoidable cost of row-level mutation on immutable files.

Scale notes:
- MERGE is a single FULL OUTER JOIN on the ON condition — one shuffle,
  skew-handled by AQE; the multi-match guard and keep-dedup are window
  functions over the same shuffle key (no extra pass). Unmatched source
  rows get their own window key (``__sid``) so inserts never pile into
  one NULL partition.
- UPDATE/DELETE without FROM are pure map-side projections/filters — no
  shuffle at all.
- On a ``PARTITION BY`` table the rewrite is **partition-pruned** (the
  Delta/Iceberg shape): a probe pass finds the partition directories
  holding affected rows (dir of ``input_file_name()``, computed below
  any exchange), only those are rewritten, and every untouched
  directory rides the swap as a hardlink — a one-month UPDATE rewrites
  one month, not three years. The executor's UPDATE/DELETE/MERGE paths
  and the streaming CDC upsert below all take it; non-deterministic
  predicates (RAND etc.) fall back to the single-pass full rewrite, and
  argless CURRENT_DATE/CURRENT_TIMESTAMP are frozen to one instant so
  the probe and rewrite agree (BigQuery's once-per-statement contract).
- The rewrite never collects to the driver beyond the probe's distinct
  directory names (bounded by the 4,000-partition cap); affected-row
  counts are not computed (they would cost an extra action).
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sqllex import balanced_end, find_top_level, mask, split_top_level

_IDENT = r"(?:`[^`]+`|[A-Za-z_][\w.]*)"
_UPDATE_RE = re.compile(rf"^\s*UPDATE\s+({_IDENT})", re.IGNORECASE)
_DELETE_RE = re.compile(rf"^\s*DELETE\s+(?:FROM\s+)?({_IDENT})", re.IGNORECASE)
_MERGE_RE = re.compile(rf"^\s*MERGE\s+(?:INTO\s+)?({_IDENT})", re.IGNORECASE)
_TRUNCATE_RE = re.compile(
    rf"^\s*TRUNCATE\s+TABLE\s+({_IDENT})\s*$", re.IGNORECASE
)
_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+(?:INTO\s+)?({_IDENT})\s*", re.IGNORECASE
)
_WHEN_RE = re.compile(r"\bWHEN\b", re.IGNORECASE)
_SET_KW_RE = re.compile(r"\bSET\b", re.IGNORECASE)
_WHERE_RE = re.compile(r"\bWHERE\b", re.IGNORECASE)
_FROM_KW_RE = re.compile(r"\bFROM\b", re.IGNORECASE)
_ON_RE = re.compile(r"\bON\b", re.IGNORECASE)
_USING_RE = re.compile(r"\bUSING\b", re.IGNORECASE)


def _unquote(name: str) -> str:
    name = name.strip()
    if name.startswith("`") and name.endswith("`"):
        return name[1:-1]
    return name


def _parse_alias(text: str) -> str | None:
    """``[AS] alias`` at the start of ``text`` -> alias or None."""
    m = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)\s*$", text, re.IGNORECASE)
    if not m:
        return None
    if m.group(1).upper() in ("SET", "WHERE", "USING", "ON", "WHEN", "FROM"):
        return None
    return m.group(1)


@dataclass
class UpdateStmt:
    target: str
    alias: str | None
    assignments: list[tuple[str, str]]
    where: str
    from_clause: str | None = None  # UPDATE ... FROM s  (desugars to MERGE)
    from_alias: str | None = None


@dataclass
class DeleteStmt:
    target: str
    alias: str | None
    where: str


@dataclass
class TruncateStmt:
    target: str


@dataclass
class InsertStmt:
    target: str
    columns: list[str] | None
    source_sql: str  # SELECT/WITH query or VALUES (...), (...)


@dataclass
class MergeWhen:
    kind: str  # 'update' | 'delete' | 'insert'
    condition: str | None
    assignments: list[tuple[str, str]] = field(default_factory=list)
    insert_columns: list[str] | None = None
    insert_values: list[str] | None = None  # None + kind=insert => INSERT ROW


@dataclass
class MergeStmt:
    target: str
    target_alias: str | None
    source_sql: str  # table name or (subquery)
    source_alias: str | None
    on: str
    matched: list[MergeWhen] = field(default_factory=list)
    not_matched_by_target: list[MergeWhen] = field(default_factory=list)
    not_matched_by_source: list[MergeWhen] = field(default_factory=list)


class DmlError(ValueError):
    pass


def parse_dml(stmt: str):
    """Parse one statement; returns a *Stmt dataclass or None when the
    statement is not DML (callers then fall through to spark.sql)."""
    s = stmt.strip().rstrip(";").strip()
    if _TRUNCATE_RE.match(s):
        return TruncateStmt(_unquote(_TRUNCATE_RE.match(s).group(1)))
    if _MERGE_RE.match(s):
        return _parse_merge(s)
    if _UPDATE_RE.match(s):
        return _parse_update(s)
    if _DELETE_RE.match(s):
        return _parse_delete(s)
    m = _INSERT_RE.match(s)
    if m:
        # INSERT parsing is only used to route catalog-tree appends; the
        # session-table form stays on the spark.sql fast path
        rest = s[m.end() :].strip()
        columns = None
        if rest.startswith("("):
            end = balanced_end(rest, 0)
            head = rest[1 : end - 1]
            # a parenthesized column list, not a subquery
            if not re.match(r"\s*(SELECT|WITH)\b", head, re.IGNORECASE):
                columns = [c.strip().strip("`") for c in head.split(",")]
                rest = rest[end:].strip()
        return InsertStmt(_unquote(m.group(1)), columns, rest)
    return None


def _parse_update(s: str) -> UpdateStmt | MergeStmt:
    m = _UPDATE_RE.match(s)
    target = _unquote(m.group(1))
    m_set = find_top_level(s, _SET_KW_RE, m.end())
    if not m_set:
        raise DmlError("UPDATE without SET")
    alias = _parse_alias(s[m.end() : m_set.start()])
    m_where = find_top_level(s, _WHERE_RE, m_set.end())
    if not m_where:
        raise DmlError("UPDATE requires a WHERE clause")  # BigQuery parity
    body = s[m_set.end() : m_where.start()]
    m_from = find_top_level(body, _FROM_KW_RE)
    from_clause = from_alias = None
    if m_from:
        from_text = body[m_from.end() :].strip()
        body = body[: m_from.start()]
        from_clause, from_alias = _split_relation(from_text)
    assignments = _parse_assignments(body)
    where = s[m_where.end() :].strip()
    upd = UpdateStmt(target, alias, assignments, where, from_clause, from_alias)
    if from_clause is None:
        return upd
    # UPDATE t SET ... FROM s WHERE cond  ==  MERGE upsert without insert
    return MergeStmt(
        target=target,
        target_alias=alias,
        source_sql=from_clause,
        source_alias=from_alias,
        on=where,
        matched=[MergeWhen("update", None, assignments)],
    )


def _parse_delete(s: str) -> DeleteStmt:
    m = _DELETE_RE.match(s)
    target = _unquote(m.group(1))
    m_where = find_top_level(s, _WHERE_RE, m.end())
    if not m_where:
        raise DmlError("DELETE requires a WHERE clause")  # BigQuery parity
    alias = _parse_alias(s[m.end() : m_where.start()])
    return DeleteStmt(target, alias, s[m_where.end() :].strip())


def _split_relation(text: str) -> tuple[str, str | None]:
    """``(subquery) [AS] a`` or ``tbl [AS] a`` -> (relation_sql, alias)."""
    text = text.strip()
    if text.startswith("("):
        end = balanced_end(text, 0)
        rel = text[:end]
        alias = _parse_alias(text[end:])
        return rel, alias
    m = re.match(rf"({_IDENT})", text)
    if not m:
        raise DmlError(f"cannot parse relation: {text[:60]}")
    return m.group(1), _parse_alias(text[m.end() :])


def _parse_assignments(body: str) -> list[tuple[str, str]]:
    out = []
    for part in split_top_level(body):
        eq = part.find("=")
        if eq < 0:
            raise DmlError(f"bad assignment: {part[:60]}")
        col = part[:eq].strip().strip("`")
        # strip a target-alias qualifier (SET t.col = ...)
        col = col.split(".")[-1]
        out.append((col, part[eq + 1 :].strip()))
    return out


def _parse_merge(s: str) -> MergeStmt:
    m = _MERGE_RE.match(s)
    target = _unquote(m.group(1))
    m_using = find_top_level(s, _USING_RE, m.end())
    if not m_using:
        raise DmlError("MERGE without USING")
    target_alias = _parse_alias(s[m.end() : m_using.start()])
    m_on = find_top_level(s, _ON_RE, m_using.end())
    if not m_on:
        raise DmlError("MERGE without ON")
    source_sql, source_alias = _split_relation(s[m_using.end() : m_on.start()])
    starts = _clause_when_offsets(s, m_on.end())
    if not starts:
        raise DmlError("MERGE without WHEN clauses")
    on = s[m_on.end() : starts[0]].strip()
    stmt = MergeStmt(target, target_alias, source_sql, source_alias, on)
    starts.append(len(s))
    for a, b in zip(starts, starts[1:]):
        _parse_when(s[a:b].strip(), stmt)
    return stmt


_WHEN_HEAD_RE = re.compile(
    r"^WHEN\s+(?:(MATCHED)|NOT\s+MATCHED(?:\s+BY\s+(TARGET|SOURCE))?)"
    r"\s*(?:AND\b(?P<cond>.*?))?\s*\bTHEN\b(?P<action>.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_when(clause: str, stmt: MergeStmt) -> None:
    m = _WHEN_HEAD_RE.match(clause)
    if not m:
        raise DmlError(f"bad WHEN clause: {clause[:80]}")
    # `AND cond THEN` — the lazy .*? stops at the FIRST THEN, which is
    # correct unless the condition itself contains CASE..THEN; handle
    # that by re-scanning for a THEN at paren depth 0 outside CASE
    cond = m.group("cond")
    action = m.group("action").strip()
    if cond is not None and re.search(r"\bCASE\b", cond, re.IGNORECASE):
        tail = clause[m.start("cond") :]
        m_then = _find_then_outside_case(tail)
        cond = tail[:m_then].strip()
        action = tail[m_then + 4 :].strip()
    elif cond is not None:
        cond = cond.strip()
    matched = bool(m.group(1))
    by_source = (m.group(2) or "TARGET").upper() == "SOURCE"
    am = re.match(r"^(UPDATE|DELETE|INSERT)\b(.*)$", action, re.IGNORECASE | re.DOTALL)
    if not am:
        raise DmlError(f"bad MERGE action: {action[:80]}")
    verb, rest = am.group(1).upper(), am.group(2).strip()
    if verb == "UPDATE":
        m_set = re.match(r"^SET\b(.*)$", rest, re.IGNORECASE | re.DOTALL)
        if not m_set:
            raise DmlError("MERGE UPDATE without SET")
        when = MergeWhen("update", cond, _parse_assignments(m_set.group(1)))
    elif verb == "DELETE":
        when = MergeWhen("delete", cond)
    else:
        when = _parse_insert_action(rest, cond)
    if matched:
        if when.kind == "insert":
            raise DmlError("WHEN MATCHED cannot INSERT")
        stmt.matched.append(when)
    elif by_source:
        if when.kind == "insert":
            raise DmlError("WHEN NOT MATCHED BY SOURCE cannot INSERT")
        stmt.not_matched_by_source.append(when)
    else:
        if when.kind != "insert":
            raise DmlError("WHEN NOT MATCHED [BY TARGET] must INSERT")
        stmt.not_matched_by_target.append(when)


#: parens and the CASE-expression keywords a MERGE clause scan tracks
_CASE_TOKEN_RE = re.compile(r"[()]|(?<!\w)(?:CASE|END|WHEN|THEN)\b", re.IGNORECASE)


def _clause_when_offsets(s: str, start: int) -> list[int]:
    """Offsets of clause-level WHEN keywords — paren-aware AND
    CASE..END-aware, so ``CASE WHEN`` inside a clause condition or
    action never splits the chain."""
    out: list[int] = []
    depth = depth_case = 0
    for m in _CASE_TOKEN_RE.finditer(mask(s), start):
        kw = m.group().upper()
        if kw in "()":
            depth = depth + 1 if kw == "(" else max(depth - 1, 0)
        elif depth:
            continue
        elif kw == "CASE":
            depth_case += 1
        elif kw == "END":
            depth_case = max(0, depth_case - 1)
        elif kw == "WHEN" and depth_case == 0:
            out.append(m.start())
    return out


def _parse_insert_action(rest: str, cond: str | None) -> MergeWhen:
    """Text after the INSERT keyword: ``ROW`` | ``[(cols)] VALUES (...)``."""
    r = rest.strip().rstrip(";").strip()
    if re.match(r"^ROW$", r, re.IGNORECASE):
        return MergeWhen("insert", cond, insert_columns=None, insert_values=None)
    cols = None
    if r.startswith("("):
        end = balanced_end(r, 0)
        cols = [c.strip().strip("`") for c in r[1 : end - 1].split(",")]
        r = r[end:].strip()
    mv = re.match(r"^VALUES\s*\(", r, re.IGNORECASE)
    if not mv:
        raise DmlError(f"bad INSERT action: {rest[:60]}")
    open_idx = r.index("(", mv.start())
    end = balanced_end(r, open_idx)
    vals = split_top_level(r[open_idx + 1 : end - 1])
    return MergeWhen(
        "insert", cond, insert_columns=cols, insert_values=[v.strip() for v in vals]
    )


def _find_then_outside_case(text: str) -> int:
    """Offset of the THEN that terminates ``AND cond THEN`` when the
    condition may contain CASE..WHEN..THEN..END expressions."""
    depth = depth_case = 0
    for m in _CASE_TOKEN_RE.finditer(mask(text)):
        kw = m.group().upper()
        if kw in "()":
            depth = depth + 1 if kw == "(" else max(depth - 1, 0)
        elif depth:
            continue
        elif kw == "CASE":
            depth_case += 1
        elif kw == "END":
            depth_case -= 1
        elif kw == "THEN" and depth_case == 0:
            return m.start()
    raise DmlError("MERGE WHEN ... AND condition without THEN")


# ---------------------------------------------------------------------------
# compilation: DML -> one declarative Spark SQL query over temp views


def _resolve_default_kw(expr: str, col: str, defaults: dict | None) -> str:
    """A bare ``DEFAULT`` assignment/insert value resolves to the
    column's declared default expression, NULL when none (BigQuery)."""
    if re.fullmatch(r"\s*DEFAULT\s*", expr, re.IGNORECASE):
        return f"({(defaults or {}).get(col, 'NULL')})"
    return expr


def compile_update(
    u: UpdateStmt,
    target_view: str,
    schema,
    stats: bool = False,
    defaults: dict | None = None,
) -> str:
    """``stats=True`` appends a ``__dml_touched`` boolean (the WHERE
    predicate over PRE-update values) so the executor can count
    modified rows via an Observation riding the write job — BigQuery's
    ``dml_statistics.updated_row_count`` counts predicate matches, and
    the flag must be computed before assignments rewrite the values."""
    a = u.alias or u.target.split(".")[-1].strip("`")
    cols = []
    assigned = {
        c: _resolve_default_kw(e, c, defaults) for c, e in u.assignments
    }
    for f_ in schema.fields:
        if f_.name in assigned:
            cols.append(
                f"CASE WHEN COALESCE(({u.where}), false) THEN "
                f"CAST(({assigned[f_.name]}) AS {f_.dataType.simpleString()}) "
                f"ELSE {a}.`{f_.name}` END AS `{f_.name}`"
            )
        else:
            cols.append(f"{a}.`{f_.name}`")
    unknown = set(assigned) - {f_.name for f_ in schema.fields}
    if unknown:
        raise DmlError(f"UPDATE sets unknown column(s): {sorted(unknown)}")
    if stats:
        cols.append(f"COALESCE(({u.where}), false) AS `__dml_touched`")
    return f"SELECT {', '.join(cols)} FROM {target_view} AS {a}"


def compile_delete(d: DeleteStmt, target_view: str, stats: bool = False) -> str:
    """``stats=True`` keeps every row and emits a ``__dml_keep`` flag
    instead of filtering in SQL; the executor observes the deletion
    count below its own filter, so the count rides the write job with
    no second scan. (The SQL-side WHERE could in principle let parquet
    row-group stats skip fully-kept groups, but a DELETE predicate's
    negation almost never excludes whole groups, so nothing real is
    lost.)"""
    a = d.alias or d.target.split(".")[-1].strip("`")
    if stats:
        return (
            f"SELECT {a}.*, NOT COALESCE(({d.where}), false) AS `__dml_keep` "
            f"FROM {target_view} AS {a}"
        )
    return (
        f"SELECT {a}.* FROM {target_view} AS {a} "
        f"WHERE NOT COALESCE(({d.where}), false)"
    )


def compile_merge(
    m: MergeStmt,
    target_view: str,
    source_view: str,
    schema,
    source_cols: list[str],
    stats: bool = False,
    defaults: dict | None = None,
) -> str:
    """The whole MERGE as one query over the FULL OUTER JOIN:

    - ``__action`` resolves the first applicable WHEN clause per row
      (BigQuery evaluates clauses in order).
    - ``__nmod`` (window over the target row id) counts modifying
      matched clauses; >1 raises — BigQuery errors when a target row
      would be updated/deleted by more than one source row.
    - matched-but-kept rows dedup via ROW_NUMBER over the same window
      key (a target row matching several sources must survive once).
    """
    t = m.target_alias or m.target.split(".")[-1].strip("`")
    s = m.source_alias or (
        m.source_sql.split(".")[-1].strip("`")
        if not m.source_sql.startswith("(")
        else "S"
    )
    if t == s:
        raise DmlError("MERGE target and source aliases collide")
    both = f"{t}.__rid IS NOT NULL AND {s}.__src IS NOT NULL"
    t_only = f"{t}.__rid IS NOT NULL AND {s}.__src IS NULL"
    s_only = f"{t}.__rid IS NULL AND {s}.__src IS NOT NULL"
    arms = []
    for i, w in enumerate(m.matched):
        pred = both if w.condition is None else f"{both} AND ({w.condition})"
        code = ("mu" if w.kind == "update" else "md") + str(i)
        arms.append(f"WHEN {pred} THEN '{code}'")
    for i, w in enumerate(m.not_matched_by_source):
        pred = t_only if w.condition is None else f"{t_only} AND ({w.condition})"
        code = ("su" if w.kind == "update" else "sd") + str(i)
        arms.append(f"WHEN {pred} THEN '{code}'")
    arms.append(f"WHEN {t}.__rid IS NOT NULL THEN 'keep'")
    for i, w in enumerate(m.not_matched_by_target):
        pred = s_only if w.condition is None else f"{s_only} AND ({w.condition})"
        arms.append(f"WHEN {pred} THEN 'in{i}'")
    action = "CASE " + " ".join(arms) + " ELSE 'drop' END"

    # per-target-column projection: CASE over the resolved action
    def insert_expr(w: MergeWhen, col: str) -> str:
        dflt = (defaults or {}).get(col, "NULL")
        if w.insert_values is None:  # INSERT ROW
            return f"{s}.`{col}`" if col in source_cols else dflt
        cols = w.insert_columns or [f_.name for f_ in schema.fields]
        if len(cols) != len(w.insert_values):
            raise DmlError("INSERT column/value count mismatch")
        mapping = dict(zip(cols, w.insert_values))
        return _resolve_default_kw(mapping.get(col, "DEFAULT"), col, defaults)

    proj = []
    for f_ in schema.fields:
        ty = f_.dataType.simpleString()
        arms_c = []
        for i, w in enumerate(m.matched):
            if w.kind == "update":
                e = dict(w.assignments).get(f_.name)
                if e is not None:
                    e = _resolve_default_kw(e, f_.name, defaults)
                    arms_c.append(f"WHEN __action = 'mu{i}' THEN CAST(({e}) AS {ty})")
        for i, w in enumerate(m.not_matched_by_source):
            if w.kind == "update":
                e = dict(w.assignments).get(f_.name)
                if e is not None:
                    e = _resolve_default_kw(e, f_.name, defaults)
                    arms_c.append(f"WHEN __action = 'su{i}' THEN CAST(({e}) AS {ty})")
        for i, w in enumerate(m.not_matched_by_target):
            arms_c.append(
                f"WHEN __action = 'in{i}' THEN "
                f"CAST(({insert_expr(w, f_.name)}) AS {ty})"
            )
        if arms_c:
            proj.append(
                "CASE "
                + " ".join(arms_c)
                + f" ELSE {t}.`{f_.name}` END AS `{f_.name}`"
            )
        else:
            proj.append(f"{t}.`{f_.name}` AS `{f_.name}`")
    for w in m.matched + m.not_matched_by_source:
        if w.kind == "update":
            unknown = set(dict(w.assignments)) - {f_.name for f_ in schema.fields}
            if unknown:
                raise DmlError(f"MERGE UPDATE sets unknown column(s): {sorted(unknown)}")

    # window key: target row id, with source-only rows isolated in their
    # own (true, __sid) partitions so inserts never skew one partition
    wkey = f"({t}.__rid IS NULL), COALESCE({t}.__rid, {s}.__sid)"
    inner = (
        f"SELECT {action} AS __action, "
        f"SUM(CASE WHEN {action} IN {_MOD_CODES(m)} THEN 1 ELSE 0 END) "
        f"OVER (PARTITION BY {wkey}) AS __nmod, "
        f"ROW_NUMBER() OVER (PARTITION BY {wkey} ORDER BY 1) AS __rn, "
        f"{', '.join(proj)} "
        f"FROM {target_view} AS {t} FULL OUTER JOIN {source_view} AS {s} "
        f"ON ({m.on})"
    )
    col_list = ", ".join(f"`{f_.name}`" for f_ in schema.fields)
    if stats:
        # counting mode: delete-arm rows survive this query tagged with
        # their action code (``__dml_action``) so the executor's
        # Observation can count inserted/updated/deleted rows in the
        # write job itself, then filter the deletions out — BigQuery's
        # dml_statistics without a second scan. 'drop' (unmatched
        # either side, no applicable arm) is not an affected row and
        # stays filtered here.
        return (
            f"SELECT {col_list}, __action AS `__dml_action` "
            f"FROM ({inner}) WHERE "
            f"CASE WHEN __nmod > 1 THEN CAST(raise_error("
            f"'MERGE: a target row matched more than one source row') AS BOOLEAN) "
            f"WHEN __action = 'keep' THEN __nmod = 0 AND __rn = 1 "
            f"WHEN __action = 'drop' THEN false "
            f"ELSE true END"
        )
    return (
        f"SELECT {col_list} FROM ({inner}) WHERE "
        f"CASE WHEN __nmod > 1 THEN CAST(raise_error("
        f"'MERGE: a target row matched more than one source row') AS BOOLEAN) "
        f"WHEN __action = 'keep' THEN __nmod = 0 AND __rn = 1 "
        f"WHEN __action LIKE 'md%' OR __action LIKE 'sd%' "
        f"OR __action = 'drop' THEN false "
        f"ELSE true END"
    )


def _MOD_CODES(m: MergeStmt) -> str:
    codes = [
        ("mu" if w.kind == "update" else "md") + str(i)
        for i, w in enumerate(m.matched)
    ]
    if not codes:
        return "('')"
    return "(" + ", ".join(f"'{c}'" for c in codes) + ")"


def prepare_merge_views(
    spark: SparkSession,
    target_df: DataFrame,
    source_df: DataFrame,
) -> tuple[str, str]:
    """Register the MERGE inputs with their synthetic row markers.
    ``monotonically_increasing_id`` is deterministic per (partition,
    offset) of a single scan, which is all the window/dedup logic needs."""
    tag = uuid.uuid4().hex[:8]
    tv, sv = f"__dml_t_{tag}", f"__dml_s_{tag}"
    target_df.withColumn("__rid", F.monotonically_increasing_id()).createOrReplaceTempView(tv)
    source_df.withColumn("__src", F.lit(True)).withColumn(
        "__sid", F.monotonically_increasing_id()
    ).createOrReplaceTempView(sv)
    return tv, sv


def swap_catalog_table(
    catalog,
    table_id: str,
    result: DataFrame,
    keep_dirs: list[str] | None = None,
    stats_hook=None,
) -> None:
    """Copy-on-write replace of a catalog parquet table: materialize the
    new contents BESIDE the old files (the result plan reads them), then
    swap directories. A failed write leaves the table untouched.

    ``keep_dirs`` is the partition-pruned variant (the Delta/Iceberg
    shape for row-level DML at scale): ``result`` holds the rewritten
    contents of only the AFFECTED partitions, and every directory named
    in ``keep_dirs`` is carried into the staged swap by hardlink —
    metadata cost, zero bytes. At 100 TB this is the difference between
    rewriting one month and rewriting three years. A kept directory may
    coexist with freshly written files for the same partition value
    (an UPDATE can move rows INTO an untouched partition); part-file
    names never collide across writes, so the union is the link of the
    old files beside the new ones. Safe under time travel for the same
    reason ``clone`` is: parquet files are immutable here, and the
    pre-image rename keeps the shared inodes alive."""
    import os
    import shutil

    from .catalog import _link_tree

    with catalog.table_lock(table_id):
        path = catalog.path_for(table_id)
        tmp = path + "__dml_tmp"
        pre_fp = catalog.table_fingerprint(table_id)
        meta = catalog.layout_meta(table_id)
        try:
            # a partitioned/clustered table keeps its layout through DML
            # (BigQuery contract): the writer re-derives the partition
            # column and re-sorts cluster keys
            catalog.layout_writer(
                result, meta, stats_hook=stats_hook
            ).mode("overwrite").parquet(tmp)
            for d in keep_dirs or []:
                _link_tree(os.path.join(path, d), os.path.join(tmp, d))
            # cap-check the STAGED directory (rewritten + kept union): a
            # violating mutation raises HERE with the live table untouched
            catalog.check_partition_cap(table_id, path=tmp)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # the old directory becomes the time-travel pre-image (a rename —
        # zero copy); internal tables skip the version store and delete
        if not catalog.archive_preimage(table_id, move=True):
            shutil.rmtree(path)
        os.rename(tmp, path)
        # the rewrite preserved the user schema: carry the verified schema
        # memo across the swap so register() skips footer re-inference
        catalog.rekey_read_schema_memo(table_id, pre_fp, result.schema, meta)
        catalog.register(table_id)
        # partition_expiration_days GC rides every mutation point
        catalog.expire_partitions(table_id)


# ---------------------------------------------------------------------------
# partition-pruned copy-on-write (UPDATE/DELETE/MERGE on PARTITION BY
# tables rewrite only the partition directories that hold affected rows)

#: dirname of the file feeding the current row — evaluated in a
#: projection DIRECTLY over the scan (file names do not survive a
#: shuffle, so callers must compute this BELOW any join/exchange).
FILE_DIR_SQL = "regexp_replace(input_file_name(), '/[^/]+$', '')"


def layout_partition_dirs(catalog, table_id: str):
    """``(meta, path, partition dirs)`` when ``table_id`` is a
    partitioned catalog table with more than one live partition (the
    shape where pruned DML pays for its probe pass), else None."""
    import os

    meta = catalog.layout_meta(table_id)
    if not meta or not meta.get("pcol"):
        return None
    path = catalog.path_for(table_id)
    if not os.path.isdir(path):
        return None
    dirs = sorted(
        d for d in os.listdir(path) if d.startswith(meta["pcol"] + "=")
    )
    if len(dirs) <= 1:
        return None
    return meta, path, dirs


def _plan_nondeterministic(df: DataFrame) -> bool:
    """True when a DataFrame's analyzed plan carries non-deterministic
    or per-execution-pinned expressions (rand/uuid/current_timestamp…)
    — the pruned upsert evaluates the batch twice, so such a batch must
    take the single-pass full rewrite. Column references print as
    ``name#id`` in the plan, so the ``name(`` scan cannot false-match
    a column called rand. Unreadable plans count as non-deterministic
    (fall back, never risk a wrong prune)."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True
    return bool(
        re.search(
            r"\b(?:rand|randn|uuid|shuffle|random|current_timestamp"
            r"|current_date|now|unix_timestamp)\(",
            plan,
        )
    )


def map_affected_dirs(values, all_dirs: list[str]):
    """Collected ``FILE_DIR_SQL`` strings -> partition-dir basenames.
    None = refuse to prune (a URI that does not map onto the known
    layout, e.g. an empty name after an unexpected exchange)."""
    import os
    from urllib.parse import unquote, urlparse

    known = set(all_dirs)
    hit: set[str] = set()
    for v in values:
        if not v:
            return None
        base = os.path.basename(unquote(urlparse(v).path or v))
        if base not in known:
            return None
        hit.add(base)
    return hit


def read_partition_subset(
    catalog, spark: SparkSession, path: str, meta: dict, dirs
) -> DataFrame:
    """The table's user-visible rows restricted to ``dirs`` — a
    basePath-anchored read so the partition column still materializes."""
    import os

    sub = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, d) for d in sorted(dirs)]
    )
    return catalog.restore_layout(sub, meta)


def merge_upsert_batch(
    catalog, table_id: str, batch_df: DataFrame, keys: list[str]
) -> None:
    """Programmatic key-upsert (matched -> update every non-key column,
    unmatched -> insert) of one DataFrame into a catalog table — the
    building block the streaming CDC sink uses per micro-batch. Creates
    the table on first batch. One equi-join on the keys (broadcast-able
    when the batch is small) + copy-on-write swap."""
    if not catalog.exists(table_id):
        catalog.write(batch_df, table_id, "WRITE_TRUNCATE")
        return
    # everything must live in batch_df's session: inside foreachBatch the
    # micro-batch runs in a cloned session whose temp views are isolated
    # from the main one, so read the target through it, not the catalog
    from .catalog import _dir_has_parquet

    spark = batch_df.sparkSession
    meta_all = catalog.layout_meta(table_id)
    tpath = catalog.path_for(table_id)
    if meta_all and not _dir_has_parquet(tpath):
        # empty layout table (TRUNCATE / full partition expiration):
        # no footers to infer from — build the zero-row frame in the
        # BATCH session from the schema sidecar (review finding r8)
        import json as _json

        from pyspark.sql.types import StructType

        target_df = spark.createDataFrame(
            [], StructType.fromJson(_json.loads(meta_all["schema_json"]))
        )
    else:
        target_df = catalog.restore_layout(
            spark.read.parquet(tpath), meta_all
        )
    missing = set(keys) - set(batch_df.columns)
    if missing:
        raise DmlError(f"upsert keys absent from batch: {sorted(missing)}")
    # partition-pruned micro-batch: a CDC batch usually lands in a
    # handful of partitions of a PARTITION BY target — probe which
    # directories hold key-matching rows (one broadcast semi join, the
    # dir name computed BELOW the join) and merge against only those;
    # every other partition rides the swap as a hardlink. The batch
    # plan is evaluated twice under pruning (probe + merge), so a
    # non-deterministic batch falls back to the single-pass rewrite
    # (review finding r8).
    keep_dirs = None
    cand = layout_partition_dirs(catalog, table_id)
    if cand and _plan_nondeterministic(batch_df):
        cand = None
    if cand:
        meta, path, all_dirs = cand
        probe = (
            target_df.withColumn("__dml_dir", F.expr(FILE_DIR_SQL))
            .join(F.broadcast(batch_df.select(*keys)), on=keys, how="left_semi")
            .select("__dml_dir")
            .distinct()
        )
        hit = map_affected_dirs([r[0] for r in probe.collect()], all_dirs)
        if hit is not None and len(hit) < len(all_dirs):
            keep_dirs = sorted(set(all_dirs) - hit)
            # no key matches at all -> pure insert: merge against an
            # empty target and keep every existing partition
            target_df = (
                read_partition_subset(catalog, spark, path, meta, hit)
                if hit
                else target_df.limit(0)
            )
    on = " AND ".join(f"T.`{k}` = S.`{k}`" for k in keys)
    sets = [(c, f"S.`{c}`") for c in batch_df.columns if c not in keys]
    stmt = MergeStmt(
        target=table_id,
        target_alias="T",
        source_sql="s",
        source_alias="S",
        on=on,
        matched=[MergeWhen("update", None, sets)] if sets else [],
        not_matched_by_target=[
            MergeWhen("insert", None, insert_columns=None, insert_values=None)
        ],
    )
    tv, sv = prepare_merge_views(spark, target_df, batch_df)
    result = spark.sql(
        compile_merge(
            stmt,
            tv,
            sv,
            target_df.schema,
            batch_df.columns,
            defaults=catalog.column_defaults(table_id)
            if hasattr(catalog, "column_defaults")
            else None,
        )
    )
    swap_catalog_table(catalog, table_id, result, keep_dirs=keep_dirs)
