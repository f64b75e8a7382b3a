"""Physical-layout optimization utilities for the 100 TB path.

The reference delegates physical layout entirely to BigQuery (SURVEY §4).
On Spark the engine owns it:

- ``bucket_table``     — persist a table hash-bucketed by its join key.
  Both sides of the canonical orders⋈lineitem join bucketed by orderkey
  makes the join shuffle-free (SortMergeJoin over pre-clustered buckets,
  no Exchange). At 100 TB the orderkey shuffle IS the dominant cost of
  every fact-fact join; bucketing amortizes it once at write time.
- ``colocated_join``   — join two bucketed tables and verify the plan has
  no shuffle above the scans.
- ``partition_by_date``— write a table date-partitioned so the
  reference's ``_TABLE_SUFFIX`` range predicates become partition
  pruning (SURVEY §2.2 wildcard-scan mapping).
- ``explain_has_exchange`` — plan inspector used by tests/benchmarks to
  enforce "no accidental shuffles" as a regression check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sqllex import TOKEN_RE, balanced_end


def bucket_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist ``df`` as a managed table hash-bucketed on ``bucket_col``.

    ``n_buckets`` should match (a multiple of) the cluster's parallelism;
    joins between tables with the same bucketing need no exchange.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a stale location from a previous session blocks managed-table
    # creation even after DROP; clear it explicitly
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    stale = f"{wh}/{table_name.lower()}"
    shutil.rmtree(stale, ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables on the bucket column."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def partition_by_date(
    df: DataFrame, path: str, ts_col: str, col_name: str = "dt"
) -> None:
    """Write date-partitioned parquet: the engine's replacement for the
    reference's date-sharded ``events_*`` wildcard tables
    (ref: model_bqml.sql:91-94 — the ``_TABLE_SUFFIX BETWEEN`` range
    becomes a pruned partition filter)."""
    (
        df.withColumn(col_name, F.to_date(F.col(ts_col)))
        .write.mode("overwrite")
        .partitionBy(col_name)
        .parquet(path)
    )


def write_sized(
    df: DataFrame,
    path: str,
    target_file_mb: int = 256,
    approx_row_bytes: int | None = None,
) -> None:
    """Write parquet with bounded file sizes — the small-files guard.

    At 100 TB the failure modes are both directions: millions of tiny
    files (NameNode/listing pressure, per-task overhead) or giant
    unsplittable row groups. ``maxRecordsPerFile`` bounds the upper end;
    the repartition bounds the lower end by packing rows into
    ~target-sized partitions first.
    """
    if approx_row_bytes is None:
        # schema-width estimate: zero jobs (the old implementation ran a
        # 1000-row sample pass AND a full count() before the real write —
        # at 100 TB that is two extra scans of the input)
        approx_row_bytes = max(50, _schema_row_bytes(df.schema))
    rows_per_file = max(1000, (target_file_mb * 1024 * 1024) // approx_row_bytes)
    # partition count from Catalyst's size estimate (plan statistics, no
    # extra scan); maxRecordsPerFile still bounds the upper end exactly
    try:
        est_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        est_bytes = 0
    target_bytes = target_file_mb * 1024 * 1024
    n_parts = min(max(1, -(-est_bytes // target_bytes)), 100_000)
    (
        df.repartition(n_parts)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_file)
        .parquet(path)
    )


def _schema_row_bytes(schema) -> int:
    """Rough serialized row width from the schema (strings/arrays use a
    fixed guess — callers pass ``approx_row_bytes`` when they know
    better)."""
    from pyspark.sql import types as T

    widths = {
        T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.LongType: 8,
        T.FloatType: 4, T.DoubleType: 8, T.BooleanType: 1,
        T.DateType: 4, T.TimestampType: 8,
    }
    total = 0
    for f in schema.fields:
        total += widths.get(type(f.dataType), 32)
    return total


def cluster_write(
    df: DataFrame, path: str, cluster_col: str, n_files: int = 8
) -> None:
    """Range-cluster a table on ``cluster_col`` at write time:
    repartitionByRange + sortWithinPartitions gives each output file a
    tight, disjoint min/max range on the column, so parquet row-group
    statistics prune file scans for range predicates — the poor-man's
    Z-order for single-column access paths, and the right layout for the
    reference's date/id range scans at 100 TB."""
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits_per_col: int = 8,
) -> None:
    """Z-order (Morton-curve) clustered write: interleave the bit codes
    of each clustering column's quantile rank and range-partition + sort
    on the interleaved value. Every output file then covers a tight
    hyper-rectangle in ALL clustering dimensions, so parquet min/max
    statistics prune file scans for predicates on ANY of the columns —
    ``cluster_write`` generalized beyond one dimension (the layout Delta
    Lake's OPTIMIZE ZORDER BY produces).

    Quantile boundaries come from one approxQuantile sketch pass
    (driver-side list of 2^bits cutpoints per column, broadcast into a
    width_bucket-style expression); the write itself is one range
    shuffle + per-partition sort, identical cost to cluster_write.
    """
    if len(cols) != len(set(cols)):
        raise ValueError(f"duplicate clustering columns: {cols}")
    if len(cols) * bits_per_col > 63:
        raise ValueError(
            f"z-value needs {len(cols) * bits_per_col} bits; max 63 "
            "(signed long) — lower bits_per_col or cluster fewer columns"
        )
    n_buckets = 1 << bits_per_col
    probs = [i / n_buckets for i in range(1, n_buckets)]
    z = None
    for ci, c in enumerate(cols):
        cuts = df.approxQuantile(c, probs, 0.01)
        # rank bucket via a folded comparison chain would be O(2^bits);
        # use a broadcast sorted-array binary search instead:
        # bucket = #cutpoints <= value (width_bucket semantics)
        arr = F.array(*[F.lit(x) for x in cuts])
        bucket = F.size(F.filter(arr, lambda b: b <= F.col(c).cast("double")))
        # interleave this column's bits into the z-value
        for bit in range(bits_per_col):
            z_bit = F.shiftright(bucket, bit).bitwiseAND(F.lit(1))
            pos = bit * len(cols) + ci
            piece = z_bit.cast("long") * F.lit(1 << pos)
            z = piece if z is None else z + piece
    zdf = df.withColumn("__z", z)
    (
        zdf.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (large, skewed) left side by a
    deterministic hash of its row, replicate the right side across all
    salt values, and join on (key, salt).

    AQE's skew-join split handles moderate skew automatically; explicit
    salting is for the pathological hot key (one key = 30% of rows) where
    a single partition would still exceed executor memory. Cost: the
    right side is duplicated ``n_salts`` times — use on dimension-sized
    right sides only.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    left_s = left.withColumn("__salt", salt)
    right_s = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = left_s.join(right_s, [on, "__salt"], how)
    return joined.drop("__salt")


def explain_has_exchange(df: DataFrame) -> bool:
    """True if the executed plan string contains a shuffle Exchange
    (broadcast exchanges don't count)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line and "BroadcastExchange" not in line:
            return True
    return False


# ---------------------------------------------------------------------------
# Repeated-CTE materialization (optimization round 11, guide §1.2/§3.3)
# ---------------------------------------------------------------------------
# Spark inlines every WITH-CTE reference (and 4.1's cache substitution
# does not fire inside WITH queries), so a diamond-shaped script — the
# reference's model_bqml.sql references `events` 3x, `first_engagement`
# and `unified_dataset` 2x each — re-executes each shared subtree per
# reference: 12 scans + 6 windows for one training input. BigQuery's
# own cost model recomputes CTEs per reference too, so semantics are
# unchanged by computing them once: materialize the hot CTEs bottom-up
# with localCheckpoint (executor-resident blocks, disk-spillable, no
# driver collect) and rebind the CTE name to the checkpoint.
#
# Scale gate: only CTEs that AGGREGATE (join / group by / window) are
# materialized — their output is user/key-level, at most the size of
# one input pass. Pure filter/project CTEs stay inline: re-scanning
# columnar storage with pushed-down predicates beats materializing a
# wide projection at 100 TB.

_CTE_HEAVY = None  # compiled lazily (module import cost)


def _skip_ws_comments(s: str, i: int) -> int:
    """Index of the first char at or after ``i`` that is not whitespace
    or a comment."""
    while True:
        rest = s[i:]
        i += len(rest) - len(rest.lstrip())
        m = TOKEN_RE.match(s, i)
        if not m or m.lastgroup not in ("hint", "comment"):
            return i
        i = m.end()


def _parse_top_ctes(sql: str):
    """-> ([(name, body), ...], final_text) for a top-level WITH query;
    raises on anything it cannot parse exactly. A partial parse (e.g. a
    quoted CTE name after a consumed comma) must raise, never silently
    fold the unparsed tail into the final query — the caller rebuilds
    the text from these pieces."""
    import re

    s = sql.lstrip()
    if not re.match(r"WITH\b", s, re.IGNORECASE):
        raise ValueError("not a WITH query")
    if re.match(r"WITH\s+RECURSIVE\b", s, re.IGNORECASE):
        raise ValueError("recursive")
    i = 4
    ctes = []
    while True:
        i = _skip_ws_comments(s, i)
        m = re.match(r"([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*\(", s[i:], re.IGNORECASE)
        if not m:
            break
        name = m.group(1)
        j = i + m.end()
        k = balanced_end(s, j - 1)
        if k < 0:
            raise ValueError("unbalanced parens")
        ctes.append((name, s[j : k - 1]))
        i = _skip_ws_comments(s, k)
        if i < len(s) and s[i] == ",":
            i += 1
            continue
        break
    if not ctes:
        raise ValueError("no CTEs parsed")
    final = s[_skip_ws_comments(s, i) :]
    if not re.match(r"(?:SELECT|\()", final, re.IGNORECASE):
        raise ValueError(f"unparsed remainder after CTE list: {final[:40]!r}")
    return ctes, final


_CTEMAT_SEQ = [0]


def materialize_repeated_ctes(
    spark: SparkSession, sql: str
) -> tuple[str, list[str]]:
    """Rewrite a WITH query so that each heavy CTE referenced >= 2 times
    reads a localCheckpoint instead of re-executing per reference.

    Returns (possibly-rewritten SQL text, temp views created) — the
    caller owns dropping the views once the rewritten query's result is
    itself materialized. On ANY parse surprise the original text is
    returned unchanged — the rewrite is a pure optimization and must
    never be load-bearing."""
    import re

    global _CTE_HEAVY
    if _CTE_HEAVY is None:
        _CTE_HEAVY = re.compile(r"\b(JOIN\b|GROUP\s+BY\b|OVER\s*\()", re.IGNORECASE)
    try:
        ctes, final = _parse_top_ctes(sql)
    except Exception:
        return sql, []
    later_text = [b for _, b in ctes] + [final]
    any_hot = any(
        sum(len(re.findall(r"\b%s\b" % re.escape(name), t)) for t in later_text[idx + 1 :]) >= 2
        and _CTE_HEAVY.search(body)
        for idx, (name, body) in enumerate(ctes)
    )
    if not any_hot:
        return sql, []
    views: list[str] = []
    try:
        stubs: list[str] = []
        for idx, (name, body) in enumerate(ctes):
            refs = sum(
                len(re.findall(r"\b%s\b" % re.escape(name), t))
                for t in later_text[idx + 1 :]
            )
            if refs >= 2 and _CTE_HEAVY.search(body):
                from .dml import _plan_nondeterministic

                inner = (
                    "WITH " + ",\n".join(stubs) + "\n" + body if stubs else body
                )
                df = spark.sql(inner)
                # a RAND()/UUID()/CURRENT_* CTE is recomputed per
                # reference by both Spark's inlining and BigQuery —
                # freezing one sample would change observable values
                if _plan_nondeterministic(df):
                    stubs.append(f"{name} AS ({body})")
                    continue
                dfc = df.localCheckpoint(eager=True)
                _CTEMAT_SEQ[0] += 1
                view = f"__ctemat_{_CTEMAT_SEQ[0]}_{name}"
                dfc.createOrReplaceTempView(view)
                views.append(view)
                stubs.append(f"{name} AS (SELECT * FROM {view})")
            else:
                stubs.append(f"{name} AS ({body})")
        if not views:
            return sql, []
        return "WITH " + ",\n".join(stubs) + "\n" + final, views
    except Exception:
        for v in views:
            try:
                spark.catalog.dropTempView(v)
            except Exception:
                pass
        return sql, []


def drop_ctemat_views(spark: SparkSession, views: list[str]) -> None:
    """Release the intermediate checkpoint views once the consuming
    query's result is materialized (the blocks free on RDD GC)."""
    for v in views:
        try:
            spark.catalog.dropTempView(v)
        except Exception:
            pass
