"""Extended parity queries: GA4-nested params, dialect/script execution,
latest-partition discovery, window-join composition — plus rows-only
entries that drive the pipeline runner, ML, streaming, and multimodal
paths end-to-end so the correctness harness exercises the full engine,
not just the SQL surface.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import Catalog, load, register_testdata


# ---------------------------------------------------------------------------
# GA4-style nested event_params (ref: model_bqml.sql:163-173, 220-253)


def q19_nested_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical GA4 shape: ``event_params ARRAY<STRUCT<key,
    value STRUCT<int_value,...>>>`` built from the events ``props`` JSON,
    then the correlated-array aggregate ``IFNULL(SUM((SELECT value.int_value
    FROM UNNEST(params) WHERE key = 'k')), 0)`` as higher-order functions —
    per-row, no explode, no shuffle."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    nested = ev.withColumn(
        "event_params",
        F.array(
            F.struct(
                F.lit("k").alias("key"),
                F.struct(k.alias("int_value")).alias("value"),
            )
        ),
    )
    per_row = F.coalesce(
        F.aggregate(
            F.filter("event_params", lambda p: p["key"] == "k"),
            F.lit(0).cast("bigint"),
            lambda acc, p: acc + F.coalesce(p["value"]["int_value"], F.lit(0)),
        ),
        F.lit(0),
    )
    return (
        nested.withColumn("k_sum", per_row)
        .groupBy("event_type")
        .agg(
            F.sum("k_sum").cast("bigint").alias("total_k"),
            F.max("k_sum").alias("max_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


Q19_SQL = """
WITH nested AS (
  SELECT event_type,
         [{'key': 'k',
           'value': {'int_value': CAST(json_extract(props, '$.k') AS BIGINT)}}]
           AS event_params
  FROM events
), per_row AS (
  SELECT event_type,
         COALESCE(list_sum(list_transform(
             list_filter(event_params, p -> p.key = 'k'),
             p -> COALESCE(p.value.int_value, 0))), 0) AS k_sum
  FROM nested
)
SELECT event_type,
       CAST(SUM(k_sum) AS BIGINT) AS total_k,
       CAST(MAX(k_sum) AS BIGINT) AS max_k,
       COUNT(*) AS n_events
FROM per_row GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Script executor end-to-end: DECLARE/SET + SELECT * EXCEPT + dialect


def q20_script_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs a BigQuery-flavored script through SparkSQLExecutor: DECLARE/
    SET scalar variables (ref: output.sql:2-7) and ``SELECT * EXCEPT``
    (ref: model_bqml.sql:111, 263-265)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    DECLARE cutoff INT64 DEFAULT (SELECT MIN(o_orderkey) + 500 FROM orders);
    SELECT * EXCEPT (o_orderdate, o_orderpriority)
    FROM orders WHERE o_orderkey <= cutoff
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q20_SQL = """
SELECT * EXCLUDE (o_orderdate, o_orderpriority)
FROM orders
WHERE o_orderkey <= (SELECT MIN(o_orderkey) + 500 FROM orders)
"""


def q33_script_udf_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-UDF + view DDL in one script — the BQScriptExecutor surface
    the reference names explicitly (UDFs and views via DDL,
    ref: bq_script_executor.py:26-36): CREATE TEMP FUNCTION becomes a
    Spark 4 SQL UDF, CREATE OR REPLACE VIEW a session view, and the
    final SELECT consumes both."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE TEMP FUNCTION price_band(p FLOAT64) RETURNS INT64
      AS (CAST(FLOOR(p / 100) AS INT64));
    CREATE OR REPLACE VIEW `tmp.ds.banded` AS
      SELECT p_brand, price_band(CAST(p_retailprice AS FLOAT64)) AS band
      FROM part;
    SELECT p_brand, band, COUNT(*) AS n
    FROM `tmp.ds.banded`
    GROUP BY p_brand, band
    HAVING COUNT(*) > 1
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q33_SQL = """
SELECT p_brand,
       CAST(FLOOR(CAST(p_retailprice AS DOUBLE) / 100) AS BIGINT) AS band,
       COUNT(*) AS n
FROM part
GROUP BY p_brand, band
HAVING COUNT(*) > 1
"""


def q34_bq_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Everyday BigQuery function surface as a script: *_DIFF/*_TRUNC
    arg reorder, COUNTIF, SAFE_CAST, DIV, STRPOS, ENDS_WITH,
    LOGICAL_OR — a user's ad-hoc BigQuery SQL running unchanged through
    SparkSQLExecutor (ref: bq_script_executor.py:23-79 is the surface
    users paste arbitrary Standard SQL into)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT
      TIMESTAMP_TRUNC(o_orderdate, MONTH) AS order_month,
      COUNTIF(o_totalprice > 150000) AS n_big,
      CAST(SUM(DIV(o_orderkey, 1000)) AS INT64) AS key_kilo_sum,
      MIN(TIMESTAMP_DIFF(o_orderdate, TIMESTAMP '1995-01-01 00:00:00', DAY))
        AS min_day_offset,
      CAST(MAX(STRPOS(o_orderpriority, '-')) AS INT64) AS max_dash_pos,
      LOGICAL_OR(ENDS_WITH(o_orderpriority, 'URGENT')) AS any_urgent,
      CAST(SUM(SAFE_CAST(SUBSTR(o_orderpriority, 1, 1) AS INT64)) AS INT64)
        AS priority_sum
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                          AND TIMESTAMP '1995-12-31 23:59:59'
    GROUP BY order_month
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q34_SQL = """
SELECT
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
  COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
  CAST(SUM(o_orderkey // 1000) AS BIGINT) AS key_kilo_sum,
  MIN(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate))
    AS min_day_offset,
  CAST(MAX(strpos(o_orderpriority, '-')) AS BIGINT) AS max_dash_pos,
  bool_or(ends_with(o_orderpriority, 'URGENT')) AS any_urgent,
  CAST(SUM(TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT)) AS BIGINT)
    AS priority_sum
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                      AND TIMESTAMP '1995-12-31 23:59:59'
GROUP BY order_month
"""


def q35_bq_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second BigQuery-surface script: EXTRACT(DATE FROM ts), literal
    SPLIT delimiters, SAFE_OFFSET/SAFE_ORDINAL subscripts, 3-arg DATE,
    bare ARRAY[...] literals — all through SparkSQLExecutor unchanged."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT
      EXTRACT(DATE FROM o_orderdate) AS order_date,
      SPLIT(o_orderpriority, '-')[SAFE_OFFSET(0)] AS prio_code,
      SPLIT(o_orderpriority, '-')[SAFE_OFFSET(9)] AS missing,
      DATE(1995, 1, 1) AS epoch_start,
      ARRAY[1, 2, 3][SAFE_ORDINAL(2)] AS second_elem,
      COUNT(*) AS n
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                          AND TIMESTAMP '1995-03-31 23:59:59'
    GROUP BY 1, 2, 3, 4, 5
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q35_SQL = """
SELECT
  CAST(o_orderdate AS DATE) AS order_date,
  string_split(o_orderpriority, '-')[1] AS prio_code,
  string_split(o_orderpriority, '-')[10] AS missing,
  DATE '1995-01-01' AS epoch_start,
  [1, 2, 3][2] AS second_elem,
  COUNT(*) AS n
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                      AND TIMESTAMP '1995-03-31 23:59:59'
GROUP BY 1, 2, 3, 4, 5
"""


def q36_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY window filtering (BigQuery's post-window filter; Spark has
    no such clause — the dialect lifts it into a __q projection). DuckDB
    supports QUALIFY natively, so the oracle runs the same shape."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT c_nationkey, c_custkey, c_acctbal AS acctbal
    FROM customer
    WHERE c_acctbal > 0
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
    ) <= 2
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q36_SQL = """
SELECT c_nationkey, c_custkey, c_acctbal AS acctbal
FROM customer
WHERE c_acctbal > 0
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
) <= 2
"""


def q37_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery PIVOT + UNPIVOT table operators (round-trip in one
    query). Spark's grammar matches BigQuery's exactly, so both pass
    through the transpiler untouched; DuckDB shares the same syntax, so
    the oracle runs the identical text."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    w = SparkSQLExecutor({"script": Q37_SQL, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q37_SQL = """
SELECT bucket, status, n FROM (
  SELECT * FROM (SELECT o_orderstatus AS st, MOD(o_custkey, 5) AS bucket FROM orders)
  PIVOT (COUNT(*) FOR st IN ('F' AS f, 'O' AS o, 'P' AS p))
) UNPIVOT (n FOR status IN (f, o, p))
ORDER BY bucket, status
"""


def q21_latest_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Latest shard' discovery: the reference finds the newest events_*
    shard via MAX(table_id) over __TABLES_SUMMARY__ (ref: output.sql:2-19);
    on a date-partitioned table that's a scalar-subquery partition filter,
    which Catalyst turns into partition pruning on real partitioned
    layouts."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_type, COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events
        WHERE to_date(ts) = (SELECT MAX(to_date(ts)) FROM events)
        GROUP BY event_type
        """
    )


Q21_SQL = """
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM events
WHERE CAST(ts AS DATE) = (SELECT MAX(CAST(ts AS DATE)) FROM events)
GROUP BY event_type
"""


def q22_join_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join with the ``t.row_num = 1`` extra condition
    (ref: model_bqml.sql:187-196): per-user first event joined to
    per-user lifetime aggregates."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    first = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_event_type"))
    )
    totals = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return first.join(totals, "user_id").select(
        "user_id", "first_event_type", "n_events", "total_value"
    )


Q22_SQL = """
WITH ranked AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
), firsts AS (
  SELECT user_id, event_type AS first_event_type FROM ranked WHERE rn = 1
), totals AS (
  SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
  FROM events GROUP BY user_id
)
SELECT f.user_id, f.first_event_type, t.n_events, t.total_value
FROM firsts f JOIN totals t ON f.user_id = t.user_id
"""


def q23_timespan_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timespan arithmetic: the training/predictive/exclusion windows the
    ML compiler stacks behind an anchor date (ref: controller/ml_model/
    shared.py:35-64; DATE_SUB ... INTERVAL n DAY shapes at
    model_bqml.sql:90-94). Anchor fixed for oracle determinism."""
    ev = load(spark, sf_dir, "events")
    anchor = F.lit("2024-01-25").cast("date")
    train_lo = F.date_sub(anchor, 14)
    excl_lo = F.date_sub(anchor, 2)
    window = (
        F.when(F.to_date("ts") < train_lo, "before")
        .when(F.to_date("ts") < excl_lo, "training")
        .when(F.to_date("ts") <= anchor, "exclusion")
        .otherwise("predictive")
    )
    return ev.groupBy(window.alias("window")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min(F.to_date("ts")).alias("min_date"),
        F.max(F.to_date("ts")).alias("max_date"),
    )


Q23_SQL = """
SELECT CASE
         WHEN CAST(ts AS DATE) < DATE '2024-01-25' - INTERVAL 14 DAY THEN 'before'
         WHEN CAST(ts AS DATE) < DATE '2024-01-25' - INTERVAL 2 DAY THEN 'training'
         WHEN CAST(ts AS DATE) <= DATE '2024-01-25' THEN 'exclusion'
         ELSE 'predictive'
       END AS window,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       MIN(CAST(ts AS DATE)) AS min_date,
       MAX(CAST(ts AS DATE)) AS max_date
FROM events GROUP BY 1
"""


def q24_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation HAVING filter (ANSI surface)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .filter(F.col("n_items") >= 20)
    )


Q24_SQL = """
SELECT l_suppkey, COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice), 2) AS total_price
FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) >= 20
"""


def q25_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Catalyst RewriteCorrelatedScalarSubquery
    decorrelates to a join): customers above their nation's average
    balance."""
    register_testdata(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_nationkey, COUNT(*) AS n_above_avg,
               ROUND(MAX(c_acctbal), 2) AS top_bal
        FROM customer c1
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c1.c_nationkey)
        GROUP BY c_nationkey
        """
    )


Q25_SQL = """
SELECT c_nationkey, COUNT(*) AS n_above_avg,
       ROUND(MAX(c_acctbal), 2) AS top_bal
FROM customer c1
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c1.c_nationkey)
GROUP BY c_nationkey
"""


def q26_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS subqueries (RewritePredicateSubquery ->
    semi/anti joins)."""
    register_testdata(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_nationkey, COUNT(*) AS n_suppliers_with_twin
        FROM supplier s
        WHERE EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_nationkey = s.s_nationkey
                        AND c.c_acctbal > s.s_acctbal)
          AND NOT EXISTS (SELECT 1 FROM customer c2
                          WHERE c2.c_nationkey = s.s_nationkey
                            AND c2.c_acctbal > 9990)
        GROUP BY s_nationkey
        """
    )


Q26_SQL = """
SELECT s_nationkey, COUNT(*) AS n_suppliers_with_twin
FROM supplier s
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_nationkey = s.s_nationkey
                AND c.c_acctbal > s.s_acctbal)
  AND NOT EXISTS (SELECT 1 FROM customer c2
                  WHERE c2.c_nationkey = s.s_nationkey
                    AND c2.c_acctbal > 9990)
GROUP BY s_nationkey
"""


def q27_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group: Spark ``percentile``
    == DuckDB ``quantile_cont``."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


Q27_SQL = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 2) AS p99,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
"""


def q28_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: corr / stddev_samp / var_samp."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.stddev_samp("l_discount"), 6).alias("disc_stddev"),
        F.round(F.var_samp("l_tax"), 6).alias("tax_var"),
        F.count(F.lit(1)).alias("n"),
    )


Q28_SQL = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       ROUND(stddev_samp(l_discount), 6) AS disc_stddev,
       ROUND(var_samp(l_tax), 6) AS tax_var,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q29_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via RANK (the grouped twin of the reference's
    global top-100): 3 highest-value orders per market segment."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "o_orderkey", "o_totalprice")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")
    )


Q29_SQL = """
SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rk <= 3
"""


def q30_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators beyond the reference's UNION ALL: UNION DISTINCT,
    INTERSECT, EXCEPT over customer/supplier nation keys."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nk")
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nk")
    )
    union_d = cust.union(supp).distinct().select(
        F.lit("union").alias("op"), "nk"
    )
    intersect = cust.intersect(supp).select(F.lit("intersect").alias("op"), "nk")
    # subtract = EXCEPT DISTINCT (set semantics, matching the SQL EXCEPT);
    # exceptAll would keep multiplicity and leak shared keys
    except_ = cust.distinct().subtract(supp.distinct()).select(
        F.lit("except").alias("op"), "nk"
    )
    return (
        union_d.unionAll(intersect)
        .unionAll(except_)
        .groupBy("op")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


Q30_SQL = """
WITH c AS (SELECT c_nationkey AS nk FROM customer),
     s AS (SELECT s_nationkey AS nk FROM supplier),
     combined AS (
       SELECT 'union' AS op, nk FROM (SELECT DISTINCT nk FROM (SELECT nk FROM c UNION SELECT nk FROM s))
       UNION ALL
       SELECT 'intersect' AS op, nk FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
       UNION ALL
       SELECT 'except' AS op, nk FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)
     )
SELECT op, COUNT(*) AS n_nations FROM combined GROUP BY op
"""


def q31_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> total). The reference
    never emits grouping sets (SURVEY §2.2) — included for a complete
    OLAP surface. COALESCE over the null super-aggregate rows keeps the
    output engine-comparable."""
    register_testdata(spark, sf_dir)
    return spark.sql(
        """
        SELECT COALESCE(r_name, '<all>') AS region,
               COALESCE(n_name, '<all>') AS nation,
               COUNT(*) AS n_customers,
               ROUND(SUM(c_acctbal), 2) AS sum_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        """
    )


Q31_SQL = """
SELECT COALESCE(r_name, '<all>') AS region,
       COALESCE(n_name, '<all>') AS nation,
       COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


def q32_pivot_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc bucketing + manual pivot via conditional aggregation
    (the portable PIVOT): one column per order status over monthly
    buckets."""
    orders = load(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    return (
        orders.groupBy(month.cast("date").alias("month"))
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("bigint")
            .alias("n_f"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
            .cast("bigint")
            .alias("n_o"),
            F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0))
            .cast("bigint")
            .alias("n_p"),
            F.round(
                F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))),
                2,
            ).alias("f_revenue"),
        )
    )


Q32_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS f_revenue
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Engine-path entries (pipeline runner / ML / streaming / multimodal).
# pipeline_sql_e2e has a SQL oracle; the others are rows-only checks.


def pipeline_sql_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-job DAG through the PipelineRunner: stage a filtered table,
    then aggregate it — the Phase-0 acceptance slice (SURVEY §7):
    templated params -> SQL -> written table -> result."""
    from .pipeline import JobSpec, Pipeline, PipelineRunner, StartCondition, Status
    from .workers.base import WorkerContext

    register_testdata(spark, sf_dir)
    wh = tempfile.mkdtemp(prefix="crmint_wh_")
    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, wh))
    pipeline = Pipeline(
        "e2e",
        [
            JobSpec(
                name="stage",
                worker_class="SparkQueryLauncher",
                params=[
                    {
                        "name": "query",
                        "type": "sql",
                        "value": (
                            "SELECT c_custkey, c_mktsegment, c_acctbal "
                            "FROM customer WHERE c_acctbal > {{ min_bal }}"
                        ),
                    },
                    {"name": "destination_table", "type": "string", "value": "p.d.staged"},
                    {"name": "overwrite", "type": "boolean", "value": "1"},
                ],
            ),
            JobSpec(
                name="aggregate",
                worker_class="SparkQueryLauncher",
                params=[
                    {
                        "name": "query",
                        "type": "sql",
                        "value": (
                            "SELECT c_mktsegment, COUNT(*) AS n, "
                            "ROUND(SUM(c_acctbal), 2) AS sum_bal FROM p__d__staged "
                            "GROUP BY c_mktsegment"
                        ),
                    },
                    {"name": "destination_table", "type": "string", "value": "p.d.agg"},
                    {"name": "overwrite", "type": "boolean", "value": "1"},
                ],
            ),
        ],
        params=[{"name": "min_bal", "value": "0"}],
    )
    # DAG edge: job 2 reads the table job 1 wrote (catalog.write
    # registers the view, so the dependent job resolves it by name)
    pipeline.jobs["aggregate"].start_conditions.append(StartCondition("stage"))
    runs = PipelineRunner(ctx).run(pipeline)
    for name, run in runs.items():
        assert run.status == Status.SUCCEEDED, f"{name}: {run.error}"
    return ctx.catalog.read("p.d.agg")


PIPELINE_E2E_SQL = """
SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS sum_bal
FROM customer WHERE c_acctbal > 0
GROUP BY c_mktsegment
"""


def ml_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRIX_FACTORIZATION end-to-end: train ALS on (user, event_type,
    interaction count) implicit-style ratings from events, then
    ML.RECOMMEND for a user slice. Rows-only (ALS factors are not
    SQL-reproducible — seed-fixed determinism and fit quality are
    pytest-asserted in test_sql_ml instead)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE OR REPLACE MODEL `p.d.ev_recsys`
    OPTIONS(MODEL_TYPE='MATRIX_FACTORIZATION', USER_COL='user_id',
            ITEM_COL='event_type', RATING_COL='rating',
            NUM_FACTORS=4, MAX_ITERATIONS=8, L2_REG=0.1) AS
      SELECT user_id, event_type,
             CAST(COUNT(*) AS FLOAT64) AS rating
      FROM events GROUP BY user_id, event_type;
    SELECT user_id, event_type, ROUND(predicted_rating, 2) AS score
    FROM ML.RECOMMEND(MODEL `p.d.ev_recsys`,
      (SELECT DISTINCT user_id FROM events WHERE user_id <= 20))
    ORDER BY user_id, event_type
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


def ml_train_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark ML train/predict over the embeddings table (rows-only:
    model outputs aren't SQL-expressible). Returns per-label prediction
    counts, schema-stable."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from .ml.estimators import strip_training_summary

    emb = load(spark, sf_dir, "embeddings")
    data = emb.withColumn("features", array_to_vector("embedding")).withColumn(
        "is_zero", (F.col("label") == 0).cast("double")
    )
    # strip like every other engine fit: a summary-carrying model dies
    # in task serialization once any Dataset.observe (the DML-statistics
    # plane) has materialized the session's ObservationManager
    model = strip_training_summary(
        LogisticRegression(
            featuresCol="features",
            labelCol="is_zero",
            maxIter=20,
            regParam=0.01,
        ).fit(data)
    )
    scored = model.transform(data)
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("prediction").cast("bigint")).alias("predicted_zero"),
        )
        .orderBy("label")
    )


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming session windows drained with availableNow.

    Oracle-checked: over a complete single-batch backfill the watermark
    drops nothing, so Spark's gap-based session_window is exactly the
    batch gaps-and-islands computation — a new session starts when the
    gap to the previous event is >= the 30-minute gap (session windows
    are [start, last_event + gap) half-open intervals)."""
    from .streaming.events import (
        sessionized_stream,
        stream_events_from_dir,
    )

    tmp = tempfile.mkdtemp(prefix="crmint_stream_")
    in_dir, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ckpt")
    load(spark, sf_dir, "events").coalesce(1).write.json(in_dir)
    stream = stream_events_from_dir(spark, in_dir)
    sessions = sessionized_stream(stream, "30 minutes", "10 days")
    wh = Catalog(spark, os.path.join(tmp, "wh"))
    from .streaming.events import run_to_table

    run_to_table(sessions, wh, "p.d.sessions", ckpt)
    return (
        wh.read("p.d.sessions")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
    )


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join drained with availableNow: purchases
    joined to the same user's views in the trailing 24 h, aggregated to
    per-purchase view counts. Oracle-checked: over a complete
    single-backfill the watermark drops nothing, so the streaming
    interval join equals the batch range join on the same predicate."""
    from .streaming.events import (
        interval_joined_stream,
        run_to_table,
        stream_events_from_dir,
    )

    tmp = tempfile.mkdtemp(prefix="crmint_sjoin_")
    in_dir, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ckpt")
    load(spark, sf_dir, "events").coalesce(1).write.json(in_dir)
    purchases = stream_events_from_dir(spark, in_dir).filter(
        F.col("event_type") == "purchase"
    )
    views = stream_events_from_dir(spark, in_dir).filter(
        F.col("event_type") == "view"
    )
    joined = interval_joined_stream(purchases, views)
    wh = Catalog(spark, os.path.join(tmp, "wh"))
    run_to_table(joined, wh, "p.d.attributed", ckpt, output_mode="append")
    return (
        wh.read("p.d.attributed")
        .groupBy("purchase_id")
        .agg(
            F.first("p_user").alias("user_id"),
            F.count(F.lit(1)).alias("n_views_24h"),
            F.round(F.first("p_value"), 2).alias("value"),
        )
    )


STREAMING_IJOIN_SQL = """
SELECT p.event_id AS purchase_id, p.user_id,
       COUNT(*) AS n_views_24h,
       ROUND(p.value, 2) AS value
FROM events p
JOIN events v
  ON v.user_id = p.user_id AND v.event_type = 'view'
 AND v.ts BETWEEN p.ts - INTERVAL 24 HOUR AND p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id, ROUND(p.value, 2)
"""


def streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming dedup (``dropDuplicates``) drained with
    availableNow: the corpus is dropped into the stream directory TWICE
    and processed in two separate micro-batches (maxFilesPerTrigger=1),
    so the seen-key state must dedup ACROSS batches, not just within
    one. Oracle-checked: exactly one first-occurrence row survives per
    event_id, so per-type counts equal the batch distinct counts."""
    from .streaming.events import run_to_table, stream_events_from_dir
    from .streaming.stateful import streaming_dedup_by_key

    tmp = tempfile.mkdtemp(prefix="crmint_sdedup_")
    in_dir, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ckpt")
    ev = load(spark, sf_dir, "events").coalesce(1)
    ev.write.json(in_dir)
    ev.write.mode("append").json(in_dir)  # the duplicate drop
    stream = stream_events_from_dir(spark, in_dir, max_files_per_trigger=1)
    deduped = streaming_dedup_by_key(stream)
    wh = Catalog(spark, os.path.join(tmp, "wh"))
    run_to_table(deduped, wh, "p.d.deduped", ckpt, output_mode="append")
    return (
        wh.read("p.d.deduped")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_first").cast("bigint").alias("n_first"),
        )
    )


STREAMING_SDEDUP_SQL = """
SELECT event_type, COUNT(*) AS n_events, COUNT(*) AS n_first
FROM events GROUP BY event_type
"""


def streaming_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE event-time dedup operator,
    ``dropDuplicatesWithinWatermark`` — the bounded-state complement to
    the exact ``dropDuplicates`` dedup: state for a key is dropped once
    the EVENT-TIME watermark passes its arrival window (vs kept
    forever). The corpus is dropped twice and drained in separate
    micro-batches with a watermark wider than the data's span, so every
    duplicate is caught across batches and the per-type counts equal the
    batch distinct counts (oracle)."""
    from .catalog import Catalog
    from .streaming.events import run_to_table, stream_events_from_dir

    tmp = tempfile.mkdtemp(prefix="crmint_wmdedup_")
    in_dir, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ckpt")
    ev = load(spark, sf_dir, "events").coalesce(1)
    ev.write.json(in_dir)
    ev.write.mode("append").json(in_dir)  # duplicate drop
    stream = stream_events_from_dir(spark, in_dir, max_files_per_trigger=1)
    deduped = (
        stream.withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    wh = Catalog(spark, os.path.join(tmp, "wh"))
    run_to_table(deduped, wh, "p.d.wm_deduped", ckpt, output_mode="append")
    return (
        wh.read("p.d.wm_deduped")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


STREAMING_WMDEDUP_SQL = """
SELECT event_type, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def streaming_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``groupBy().agg()`` running per-user profiles in update
    mode, drained over two micro-batches so the state accumulates across
    triggers. Each batch appends that batch's updated groups; the final
    state per user is the row with the highest (monotonic) event count.
    Oracle-checked against the batch per-user aggregate."""
    from .streaming.events import run_to_table, stream_events_from_dir
    from .streaming.stateful import user_running_profile

    tmp = tempfile.mkdtemp(prefix="crmint_sprof_")
    in_dir, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ckpt")
    ev = load(spark, sf_dir, "events")
    # split the corpus into two drops -> two triggers -> cross-batch state
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.json(in_dir)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).json(in_dir)
    stream = stream_events_from_dir(spark, in_dir, max_files_per_trigger=1)
    prof = user_running_profile(stream)
    wh = Catalog(spark, os.path.join(tmp, "wh"))
    run_to_table(prof, wh, "p.d.profiles", ckpt, output_mode="update")
    final = F.max_by(
        F.struct("n_events", "total_value", "first_ts", "last_ts"),
        "n_events",
    ).alias("f")
    return (
        wh.read("p.d.profiles")
        .groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("f.n_events").alias("n_events"),
            F.round("f.total_value", 2).alias("total_value"),
            F.col("f.first_ts").cast("date").alias("first_day"),
            F.col("f.last_ts").cast("date").alias("last_day"),
        )
    )


STREAMING_SPROF_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(COALESCE(value, 0)), 2) AS total_value,
       CAST(MIN(ts) AS DATE) AS first_day,
       CAST(MAX(ts) AS DATE) AS last_day
FROM events GROUP BY user_id
"""


def streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style streaming upsert: per-user running totals drained in
    TWO incremental availableNow runs (checkpoint resumes after the
    first), each micro-batch MERGE-upserted into a catalog table by
    user_id through the DML compiler. Oracle-checked: upserting
    update-mode aggregates converges to the plain batch GROUP BY."""
    from .streaming.events import run_merge_upsert

    tmp = tempfile.mkdtemp(prefix="crmint_stream_")
    in_dir, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ckpt")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.json(
        os.path.join(in_dir, "a")
    )
    wh = Catalog(spark, os.path.join(tmp, "wh"))

    def drain():
        stream = (
            spark.readStream.schema("event_id bigint, user_id bigint, value double")
            .json(os.path.join(in_dir, "*"))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
        )
        run_merge_upsert(stream, wh, "p.d.user_totals", ["user_id"], ckpt)

    drain()
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.json(
        os.path.join(in_dir, "b")
    )
    drain()
    return wh.read("p.d.user_totals").orderBy("user_id")


STREAMING_UPSERT_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY user_id ORDER BY user_id
"""


MULTIMODAL_SQL = """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       COUNT(*) AS n_media,
       CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
FROM documents
WHERE doc_id < 64
GROUP BY 1
"""

STREAMING_SESSIONIZE_SQL = """
WITH ordered AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id,
         CASE WHEN prev_ts IS NULL
              OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
  FROM ordered
)
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through mapInPandas. Media
    payloads are derived deterministically from the documents table
    (content = UTF-8 text bytes), so the per-kind byte totals the Python
    kernel reports are SQL-recomputable: the oracle validates that the
    Arrow batch round-trip preserves every payload byte-for-byte."""
    from .operators.multimodal import extract_features

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        (F.col("n_chars") * 10).alias("duration_ms"),
    )
    feats = extract_features(media)
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
    )


def q44_bq_functions3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third BigQuery-surface script: UNNEST WITH OFFSET, ARRAY(subquery)
    over a correlated array, numeric TRUNC, RANGE_BUCKET, NET.HOST,
    TO_CODE_POINTS, 3-arg INSTR — all through SparkSQLExecutor
    unchanged."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    WITH cust AS (
      SELECT c_custkey,
             ARRAY(SELECT w FROM UNNEST(SPLIT(c_mktsegment, \'I\')) AS w
                   WHERE w != \'\') AS seg_words
      FROM customer WHERE c_custkey < 50
    )
    SELECT
      c_custkey,
      word, CAST(off AS INT64) AS off,
      TRUNC(c_custkey / 7.0) AS bucket7,
      RANGE_BUCKET(c_custkey, [0, 10, 20, 30, 40]) AS rb,
      NET.HOST(\'https://shop.example.com/c?id=\' || CAST(c_custkey AS STRING)) AS host,
      CAST(TO_CODE_POINTS(word)[SAFE_OFFSET(0)] AS INT64) AS first_cp,
      CAST(INSTR(word, \'A\', 1) AS INT64) AS a_pos
    FROM cust, UNNEST(cust.seg_words) AS word WITH OFFSET off
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


def q49_bq_functions4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth BigQuery-surface script: NET.REG_DOMAIN against the
    vendored public-suffix snapshot (functions/psl.py), 4-arg INSTR
    (occurrence + backward search), and NORMALIZE /
    NORMALIZE_AND_CASEFOLD — all through SparkSQLExecutor unchanged.
    The oracle mirrors REG_DOMAIN with the same generated CASE/IN SQL
    and INSTR with DuckDB list lambdas; customer text is ASCII so NFKC
    normalization is the identity and casefold is lower()."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT
      c_custkey,
      NET.REG_DOMAIN(\'https://www.\' || LOWER(c_mktsegment) || \'.co.uk/home\') AS dom_uk,
      NET.REG_DOMAIN(\'http://shop.\' || LOWER(c_mktsegment) || \'.com/x?y=1\') AS dom_com,
      CAST(INSTR(c_name, \'0\', 1, 3) AS INT64) AS zero_3rd,
      CAST(INSTR(c_name, \'0\', -1, 1) AS INT64) AS zero_last,
      CAST(INSTR(c_name, \'00\', 2, 2) AS INT64) AS dd_2nd,
      NORMALIZE(c_name, NFKC) AS name_norm,
      NORMALIZE_AND_CASEFOLD(c_mktsegment) AS seg_cf
    FROM customer
    WHERE c_custkey <= 300
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


def q56_bq_functions6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sixth BigQuery-surface script (round 5): INITCAP/TRANSLATE/CHR
    passthroughs, 1- and 2-arg LAST_DAY (YEAR/WEEK parts), the bitwise
    aggregate trio BIT_AND/BIT_OR/BIT_XOR + BIT_COUNT, CBRT/SINH/COT
    math, and PARSE_JSON/JSON_TYPE over the engine's JSON-as-text
    representation — all through SparkSQLExecutor unchanged; the oracle
    reproduces each (char-fold initcap with BigQuery's delimiter
    semantics — dash and space are the delimiters this fixture hits;
    exp-based sinh, 0-based-Sunday dayofweek week-end arithmetic)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT
      o_orderpriority AS prio,
      INITCAP(LOWER(o_orderpriority)) AS prio_title,
      TRANSLATE(o_orderpriority, '- ', '_.') AS prio_tr,
      MIN(LAST_DAY(DATE(o_orderdate))) AS first_month_end,
      MIN(LAST_DAY(DATE(o_orderdate), YEAR)) AS year_end,
      MIN(LAST_DAY(DATE(o_orderdate), WEEK)) AS week_end,
      CAST(BIT_AND(o_orderkey) AS INT64) AS key_band,
      CAST(BIT_OR(o_orderkey) AS INT64) AS key_bor,
      CAST(BIT_XOR(o_orderkey) AS INT64) AS key_bxor,
      CAST(MAX(BIT_COUNT(o_orderkey)) AS INT64) AS max_bits,
      ROUND(CBRT(MAX(o_totalprice)), 6) AS cbrt_max,
      ROUND(SINH(MIN(o_totalprice) / 100000), 6) AS sinh_min,
      ROUND(COT(1 + MOD(MIN(o_orderkey), 3)), 6) AS cot_k,
      JSON_TYPE(PARSE_JSON(
        IF(MOD(MIN(o_orderkey), 2) = 0, '{"a": 1}', '[1, 2]'))) AS jtype,
      CHR(65 + CAST(MOD(MIN(o_orderkey), 26) AS INT64)) AS chr_k
    FROM orders
    GROUP BY prio
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q56_SQL = """
SELECT
  o_orderpriority AS prio,
  list_reduce(
    list_prepend(['', '1'],
      list_transform(string_split(lower(o_orderpriority), ''),
                     c -> [c, ''])),
    (acc, ch) -> [acc[1] || CASE WHEN acc[2] = '1' THEN upper(ch[1])
                            ELSE ch[1] END,
                  CASE WHEN ch[1] IN ('-', ' ') THEN '1' ELSE '0' END]
  )[1] AS prio_title,
  translate(o_orderpriority, '- ', '_.') AS prio_tr,
  MIN(last_day(CAST(o_orderdate AS DATE))) AS first_month_end,
  MIN(make_date(CAST(year(o_orderdate) AS INT), 12, 31)) AS year_end,
  MIN(CAST(CAST(o_orderdate AS DATE)
      + ((6 - dayofweek(CAST(o_orderdate AS DATE))) % 7) * INTERVAL 1 DAY
      AS DATE)) AS week_end,
  CAST(BIT_AND(o_orderkey) AS BIGINT) AS key_band,
  CAST(BIT_OR(o_orderkey) AS BIGINT) AS key_bor,
  CAST(BIT_XOR(o_orderkey) AS BIGINT) AS key_bxor,
  CAST(MAX(BIT_COUNT(o_orderkey)) AS BIGINT) AS max_bits,
  ROUND(CBRT(MAX(o_totalprice)), 6) AS cbrt_max,
  ROUND((EXP(MIN(o_totalprice) / 100000) - EXP(-(MIN(o_totalprice) / 100000)))
        / 2, 6) AS sinh_min,
  ROUND(COT(CAST(1 + MIN(o_orderkey) % 3 AS DOUBLE)), 6) AS cot_k,
  CASE WHEN MIN(o_orderkey) % 2 = 0 THEN 'object' ELSE 'array' END AS jtype,
  CHR(65 + CAST(MIN(o_orderkey) % 26 AS INT)) AS chr_k
FROM orders
GROUP BY prio
"""


def q57_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL_QUANTILES sketch-algebra script (round 5): INIT per
    (priority, year), MERGE_POINT median + MERGE quartile boundaries
    across years — the re-aggregatable quantile pattern that pairs with
    the q50 HLL family. The default engine path is the exact
    sorted-multiset estimator (dialect._rewrite_kll_family), so the
    DuckDB oracle reproduces every boundary; the DataSketches scale path
    is pytest-asserted (test_kll_quantiles_family)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    WITH by_year AS (
      SELECT o_orderpriority AS prio,
             EXTRACT(YEAR FROM o_orderdate) AS yr,
             KLL_QUANTILES.INIT_FLOAT64(o_totalprice, 1000) AS sk
      FROM orders GROUP BY prio, yr
    ), merged AS (
      SELECT prio,
             ROUND(KLL_QUANTILES.MERGE_POINT_FLOAT64(sk, 0.5), 6)
               AS median_price,
             KLL_QUANTILES.MERGE_FLOAT64(sk, 4) AS bounds
      FROM by_year GROUP BY prio
    )
    SELECT prio, median_price, off AS bucket, ROUND(b, 6) AS boundary
    FROM merged, UNNEST(bounds) AS b WITH OFFSET AS off
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q57_SQL = """
WITH s AS (
  SELECT o_orderpriority AS prio,
         list(CAST(o_totalprice AS DOUBLE) ORDER BY o_totalprice) AS arr
  FROM orders GROUP BY prio
)
SELECT prio,
       ROUND(arr[GREATEST(CAST(CEIL(0.5 * len(arr)) AS INT), 1)], 6)
         AS median_price,
       CAST(i AS INT) AS bucket,
       ROUND(arr[CAST((i * (len(arr) - 1)) // 4 AS INT) + 1], 6) AS boundary
FROM s, UNNEST(range(0, 5)) AS t(i)
"""


def q57_kll_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q57 sketch script on the SCALE path (``approx_sketches=True``
    -> DataSketches KLL, constant memory per group). Driver-checkable
    via the q50_hll_approx pattern: emit the EXACT per-group median
    (deterministic oracle) plus a boolean asserting the KLL estimate
    landed within 2% of it — k=1000 gives ~0.6% rank error, so the
    boolean flips only if the sketch path breaks."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    WITH by_year AS (
      SELECT o_orderpriority AS prio,
             EXTRACT(YEAR FROM o_orderdate) AS yr,
             KLL_QUANTILES.INIT_FLOAT64(o_totalprice, 1000) AS sk
      FROM orders GROUP BY prio, yr
    )
    SELECT prio, KLL_QUANTILES.MERGE_POINT_FLOAT64(sk, 0.5) AS approx_med
    FROM by_year GROUP BY prio
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False, "approx_sketches": True},
        WorkerContext(spark),
    )
    w.execute()
    approx = w.result
    exact = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.expr(
                "round(percentile_disc(0.5) WITHIN GROUP "
                "(ORDER BY o_totalprice), 6)"
            ).alias("exact_med")
        )
    )
    tol = F.col("exact_med") * 0.02
    return approx.join(exact, "prio").select(
        "prio",
        "exact_med",
        (F.abs(F.col("approx_med") - F.col("exact_med")) <= tol).alias(
            "kll_within_2pct"
        ),
    )


Q57_APPROX_SQL = """
SELECT o_orderpriority AS prio,
       ROUND(quantile_disc(o_totalprice, 0.5), 6) AS exact_med,
       TRUE AS kll_within_2pct
FROM orders GROUP BY prio
"""


def q58_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Procedural scripting end-to-end (round 5): a WHILE loop drives
    EXECUTE IMMEDIATE dynamic INSERTs into a session table (one per
    year), an IF/ELSE block validates the loop's row count, and the
    final SELECT returns the per-year revenue — all deterministic, so
    the DuckDB oracle is the equivalent plain aggregate."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    DECLARE i INT64 DEFAULT 0;
    DECLARE cur_year INT64;
    CREATE OR REPLACE TABLE `tmp.d.year_rev` AS
      SELECT CAST(NULL AS INT64) AS yr, CAST(NULL AS FLOAT64) AS rev
      WHERE FALSE;
    WHILE i < 3 DO
      SET cur_year = 1995 + i;
      EXECUTE IMMEDIATE CONCAT(
        'INSERT INTO `tmp.d.year_rev` ',
        'SELECT @y AS yr, ROUND(SUM(o_totalprice), 6) AS rev ',
        'FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = @y'
      ) USING cur_year AS y;
      SET i = i + 1;
    END WHILE;
    IF (SELECT COUNT(*) FROM `tmp.d.year_rev`) = 3 THEN
      SELECT yr, rev FROM `tmp.d.year_rev`;
    ELSE
      SELECT ERROR('loop under-filled year_rev');
    END IF
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q58_SQL = """
SELECT CAST(1995 + i AS BIGINT) AS yr,
       (SELECT ROUND(SUM(o_totalprice), 6) FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) = 1995 + i) AS rev
FROM range(0, 3) t(i)
"""


def q55_bq_functions5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth BigQuery-surface script (round 4): EXTRACT field mappings
    (Sunday-start WEEK / DAYOFYEAR / ISOWEEK / ISOYEAR), DATE_BUCKET
    against the default 1950-01-01 origin, ARRAY_FIRST/LAST/SLICE,
    EDIT_DISTANCE, bare SHA256 + TO_HEX, JSON_OBJECT, and the 2-arg
    analytic PERCENTILE_CONT/DISC — all through SparkSQLExecutor
    unchanged; the oracle reproduces each (CUME_DIST construction for
    DISC, time_bucket for DATE_BUCKET, ISO parts natively)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT o_orderkey,
      CAST(EXTRACT(WEEK FROM o_orderdate) AS INT64) AS wk,
      CAST(EXTRACT(DAYOFYEAR FROM o_orderdate) AS INT64) AS doy,
      CAST(EXTRACT(ISOWEEK FROM o_orderdate) AS INT64) AS isowk,
      CAST(EXTRACT(ISOYEAR FROM o_orderdate) AS INT64) AS isoyr,
      DATE_BUCKET(CAST(o_orderdate AS DATE), INTERVAL 7 DAY) AS wk_bucket,
      ARRAY_FIRST(SPLIT(o_orderpriority, \'-\')) AS pri_num,
      ARRAY_LAST(SPLIT(o_orderpriority, \'-\')) AS pri_word,
      ARRAY_TO_STRING(
        ARRAY_SLICE(SPLIT(o_orderpriority, \'-\'), 0, 0), \'|\') AS pri_head,
      CAST(EDIT_DISTANCE(o_orderpriority, \'1-URGENT\') AS INT64) AS ed,
      TO_HEX(SHA256(o_orderpriority)) AS digest,
      JSON_OBJECT(\'p\', o_orderpriority) AS j,
      ROUND(PERCENTILE_CONT(o_totalprice, 0.5)
            OVER (PARTITION BY o_orderpriority), 4) AS med_price,
      ROUND(PERCENTILE_DISC(o_totalprice, 0.25)
            OVER (PARTITION BY o_orderpriority), 4) AS q1_price
    FROM orders WHERE o_orderkey <= 800
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q55_SQL = """
WITH base AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, o_orderpriority,
         o_totalprice,
         CUME_DIST() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice) AS cdist
  FROM orders WHERE o_orderkey <= 800
)
SELECT o_orderkey,
  CAST(CASE WHEN dayofyear(d) <
            (((7 - dayofweek(make_date(year(d), 1, 1))) % 7) + 1)
       THEN 0
       ELSE (dayofyear(d) -
             (((7 - dayofweek(make_date(year(d), 1, 1))) % 7) + 1)) // 7 + 1
       END AS BIGINT) AS wk,
  CAST(dayofyear(d) AS BIGINT) AS doy,
  CAST(weekofyear(d) AS BIGINT) AS isowk,
  CAST(isoyear(d) AS BIGINT) AS isoyr,
  time_bucket(INTERVAL 7 DAY, d, DATE '1950-01-01') AS wk_bucket,
  string_split(o_orderpriority, '-')[1] AS pri_num,
  string_split(o_orderpriority, '-')[-1] AS pri_word,
  array_to_string(string_split(o_orderpriority, '-')[1:1], '|') AS pri_head,
  CAST(levenshtein(o_orderpriority, '1-URGENT') AS BIGINT) AS ed,
  sha256(o_orderpriority) AS digest,
  CAST(json_object('p', o_orderpriority) AS VARCHAR) AS j,
  ROUND(quantile_cont(o_totalprice, 0.5)
        OVER (PARTITION BY o_orderpriority), 4) AS med_price,
  ROUND(MIN(CASE WHEN cdist >= 0.25 THEN o_totalprice END)
        OVER (PARTITION BY o_orderpriority), 4) AS q1_price
FROM base
"""


def q59_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery ``VECTOR_SEARCH`` table function through the script
    executor — all three distance types, named args, TABLE and subquery
    inputs, and ``query_column_to_search`` renaming. The dialect rewrite
    (dialect._rewrite_vector_search) compiles each call to a broadcast
    probe + map-only HOF distance + per-query row_number top-k; this
    entry certifies the struct output contract (query/base/distance)
    and the exact distance semantics against a DuckDB brute-force
    oracle. (Index-accelerated variants: operators/ivf.py, pq.py.)"""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT 'cos' AS metric, query.vec_id AS query_id,
           base.vec_id AS base_id, ROUND(distance, 6) + 0 AS dist
    FROM VECTOR_SEARCH(
      TABLE embeddings, 'embedding',
      (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
      top_k => 5, distance_type => 'COSINE')
    UNION ALL
    SELECT 'euc' AS metric, query.vec_id, base.vec_id, ROUND(distance, 6) + 0
    FROM VECTOR_SEARCH(
      TABLE embeddings, 'embedding',
      (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 7),
      top_k => 4)
    UNION ALL
    SELECT 'dot' AS metric, query.vec_id, base.vec_id, ROUND(distance, 6) + 0
    FROM VECTOR_SEARCH(
      (SELECT vec_id, label, embedding FROM embeddings), 'embedding',
      (SELECT vec_id, embedding AS qv FROM embeddings WHERE vec_id = 11),
      query_column_to_search => 'qv', top_k => 3,
      distance_type => 'DOT_PRODUCT')
    ORDER BY metric, query_id, dist, base_id
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


def _q59_oracle() -> str:
    dot = (
        "list_sum(list_transform(range(1, len(b.embedding) + 1), "
        "i -> CAST(b.embedding[i] AS DOUBLE) * q.qvec[i]))"
    )
    norm_b = (
        "sqrt(list_sum(list_transform(b.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    norm_q = "sqrt(list_sum(list_transform(q.qvec, x -> x * x)))"
    euc = (
        "sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), "
        "i -> (CAST(b.embedding[i] AS DOUBLE) - q.qvec[i]) "
        "* (CAST(b.embedding[i] AS DOUBLE) - q.qvec[i]))))"
    )
    return f"""
WITH qcos AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
  FROM embeddings WHERE vec_id < 3
), qeuc AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
  FROM embeddings WHERE vec_id = 7
), qdot AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
  FROM embeddings WHERE vec_id = 11
), scored AS (
  SELECT 'cos' AS metric, q.query_id, b.vec_id AS base_id,
         1 - {dot} / ({norm_q} * {norm_b}) AS dist
  FROM embeddings b, qcos q
  UNION ALL
  SELECT 'euc', q.query_id, b.vec_id, {euc}
  FROM embeddings b, qeuc q
  UNION ALL
  SELECT 'dot', q.query_id, b.vec_id, -({dot})
  FROM embeddings b, qdot q
), ranked AS (
  SELECT metric, query_id, base_id, dist,
         row_number() OVER (PARTITION BY metric, query_id
                            ORDER BY dist ASC) AS rn
  FROM scored
)
SELECT metric, query_id, base_id, ROUND(dist, 6) + 0 AS dist
FROM ranked
WHERE (metric = 'cos' AND rn <= 5) OR (metric = 'euc' AND rn <= 4)
   OR (metric = 'dot' AND rn <= 3)
ORDER BY metric, query_id, dist, base_id
"""


Q59_SQL = _q59_oracle()


def q60_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation surface: GROUP BY GROUPING SETS / CUBE /
    ROLLUP with the GROUPING() indicator function (BigQuery 2023 SQL
    additions; pass through the dialect to Spark's identical clauses).
    All three run in ONE aggregation pass each (Spark's Expand operator
    — no self-union of the fact table), which is the property that
    matters at 100 TB: k grouping sets cost one shuffle, not k scans."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT 'GS' AS src, o_orderpriority AS pri, o_orderstatus AS st,
      CAST(GROUPING(o_orderpriority) AS INT64) AS g_pri,
      CAST(GROUPING(o_orderstatus) AS INT64) AS g_st,
      COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey <= 2000
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    UNION ALL
    SELECT 'CUBE', o_orderpriority, o_orderstatus,
      CAST(GROUPING(o_orderpriority) AS INT64),
      CAST(GROUPING(o_orderstatus) AS INT64),
      COUNT(*), ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderkey <= 2000
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    UNION ALL
    SELECT 'ROLLUP', o_orderpriority, o_orderstatus,
      CAST(GROUPING(o_orderpriority) AS INT64),
      CAST(GROUPING(o_orderstatus) AS INT64),
      COUNT(*), ROUND(SUM(o_totalprice), 2)
    FROM orders WHERE o_orderkey <= 2000
    GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q60_SQL = """
SELECT 'GS' AS src, o_orderpriority AS pri, o_orderstatus AS st,
  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
  COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
FROM orders WHERE o_orderkey <= 2000
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), ())
UNION ALL
SELECT 'CUBE', o_orderpriority, o_orderstatus,
  CAST(GROUPING(o_orderpriority) AS BIGINT),
  CAST(GROUPING(o_orderstatus) AS BIGINT),
  COUNT(*), ROUND(SUM(o_totalprice), 2)
FROM orders WHERE o_orderkey <= 2000
GROUP BY CUBE(o_orderpriority, o_orderstatus)
UNION ALL
SELECT 'ROLLUP', o_orderpriority, o_orderstatus,
  CAST(GROUPING(o_orderpriority) AS BIGINT),
  CAST(GROUPING(o_orderstatus) AS BIGINT),
  COUNT(*), ROUND(SUM(o_totalprice), 2)
FROM orders WHERE o_orderkey <= 2000
GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
"""


def q61_bq_functions7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seventh BigQuery-surface batch: ML.DISTANCE (all three types —
    the scalar twin of VECTOR_SEARCH's metrics), the full hyperbolic
    family incl. the reciprocal trio COTH/SECH/CSCH (no Spark builtins
    — compiled to 1/tanh etc.), CBRT, CHR, LEFT/RIGHT,
    DATETIME_BUCKET, and the navigation-function ``IGNORE NULLS``
    modifier in BigQuery's inside-the-parens position (hoisted to
    Spark's postfix position by dialect._rewrite_ignore_nulls)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT o_orderkey,
      ROUND(ML.DISTANCE([CAST(MOD(o_orderkey, 5) AS FLOAT64), 2.0],
                        [1.0, 0.5]), 6) AS d_euc,
      ROUND(ML.DISTANCE([CAST(MOD(o_orderkey, 5) AS FLOAT64), 2.0],
                        [1.0, 0.5], 'MANHATTAN'), 6) AS d_man,
      ROUND(ML.DISTANCE([CAST(MOD(o_orderkey, 5) AS FLOAT64), 2.0],
                        [1.0, 0.5], 'COSINE'), 6) AS d_cos,
      ROUND(SINH(o_totalprice / 500000 + 0.5), 6) AS h_sinh,
      ROUND(COSH(o_totalprice / 500000 + 0.5), 6) AS h_cosh,
      ROUND(TANH(o_totalprice / 500000 + 0.5), 6) AS h_tanh,
      ROUND(COTH(o_totalprice / 500000 + 0.5), 6) AS h_coth,
      ROUND(SECH(o_totalprice / 500000 + 0.5), 6) AS h_sech,
      ROUND(CSCH(o_totalprice / 500000 + 0.5), 6) AS h_csch,
      ROUND(CBRT(o_totalprice), 6) AS cbrt_p,
      CHR(65 + CAST(MOD(o_orderkey, 26) AS INT64)) AS letter,
      LEFT(o_orderpriority, 3) AS pri3,
      RIGHT(o_orderpriority, 4) AS pri4,
      DATETIME_BUCKET(CAST(o_orderdate AS DATETIME), INTERVAL 7 HOUR) AS hb,
      LAST_VALUE(NULLIF(o_orderstatus, 'O') IGNORE NULLS)
        OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS last_closed
    FROM orders WHERE o_orderkey <= 600
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


def _q61_oracle() -> str:
    x = "(o_totalprice / 500000 + 0.5)"
    k = "CAST(o_orderkey % 5 AS DOUBLE)"
    return f"""
SELECT o_orderkey,
  ROUND(sqrt(({k} - 1.0) * ({k} - 1.0) + 2.25), 6) AS d_euc,
  ROUND(abs({k} - 1.0) + 1.5, 6) AS d_man,
  ROUND(1 - ({k} * 1.0 + 2.0 * 0.5)
        / (sqrt({k} * {k} + 4.0) * sqrt(1.25)), 6) AS d_cos,
  ROUND((exp({x}) - exp(-{x})) / 2, 6) AS h_sinh,
  ROUND((exp({x}) + exp(-{x})) / 2, 6) AS h_cosh,
  ROUND((exp({x}) - exp(-{x})) / (exp({x}) + exp(-{x})), 6) AS h_tanh,
  ROUND((exp({x}) + exp(-{x})) / (exp({x}) - exp(-{x})), 6) AS h_coth,
  ROUND(2 / (exp({x}) + exp(-{x})), 6) AS h_sech,
  ROUND(2 / (exp({x}) - exp(-{x})), 6) AS h_csch,
  ROUND(cbrt(o_totalprice), 6) AS cbrt_p,
  chr(65 + CAST(o_orderkey % 26 AS INT)) AS letter,
  left(o_orderpriority, 3) AS pri3,
  right(o_orderpriority, 4) AS pri4,
  time_bucket(INTERVAL 7 HOUR, CAST(o_orderdate AS TIMESTAMP),
              TIMESTAMP '1950-01-01') AS hb,
  last_value(NULLIF(o_orderstatus, 'O') IGNORE NULLS)
    OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS last_closed
FROM orders WHERE o_orderkey <= 600
"""


Q61_SQL = _q61_oracle()


def q62_information_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery ``INFORMATION_SCHEMA`` metadata views (TABLES, COLUMNS
    with BigQuery type spellings + ordinal positions, and the
    project-level SCHEMATA), referenced both bare and backticked. The
    catalog materializes them on demand from the same source of truth
    as ``__TABLES_SUMMARY__`` (parquet tables + virtual shards + same-
    session CTAS relations); the oracle pins the exact BigQuery column
    contract as literals."""
    import tempfile

    from .catalog import Catalog
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="isq_"))
    cat.write(
        spark.sql(
            "SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE)"
            " AS o_date FROM orders WHERE o_orderkey <= 10"
        ),
        "p.meta.ord_mini",
    )
    cat.write(
        spark.sql(
            "SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 5"
        ),
        "p.meta.cust_mini",
    )
    script = """
    SELECT table_catalog, table_schema, table_name, table_type,
           'table' AS kind, CAST(NULL AS STRING) AS column_name,
           CAST(NULL AS INT64) AS ordinal_position,
           CAST(NULL AS STRING) AS data_type
    FROM p.meta.INFORMATION_SCHEMA.TABLES
    UNION ALL
    SELECT table_catalog, table_schema, table_name, 'BASE TABLE',
           'column', column_name, ordinal_position, data_type
    FROM `p.meta.INFORMATION_SCHEMA.COLUMNS`
    UNION ALL
    SELECT catalog_name, schema_name, '-', '-', 'schema',
           CAST(NULL AS STRING), CAST(NULL AS INT64),
           CAST(NULL AS STRING)
    FROM p.INFORMATION_SCHEMA.SCHEMATA
    ORDER BY kind, table_name, ordinal_position
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False},
        WorkerContext(spark=spark, catalog=cat),
    )
    w.execute()
    return w.result


Q62_SQL = """
SELECT table_catalog, table_schema, table_name, table_type, kind,
       column_name, CAST(ordinal_position AS BIGINT) AS ordinal_position,
       data_type
FROM (VALUES
  ('p', 'meta', 'cust_mini', 'BASE TABLE', 'table', NULL, NULL, NULL),
  ('p', 'meta', 'ord_mini', 'BASE TABLE', 'table', NULL, NULL, NULL),
  ('p', 'meta', 'cust_mini', 'BASE TABLE', 'column', 'c_custkey', 1, 'INT64'),
  ('p', 'meta', 'cust_mini', 'BASE TABLE', 'column', 'c_name', 2, 'STRING'),
  ('p', 'meta', 'ord_mini', 'BASE TABLE', 'column', 'o_orderkey', 1, 'INT64'),
  ('p', 'meta', 'ord_mini', 'BASE TABLE', 'column', 'o_totalprice', 2, 'FLOAT64'),
  ('p', 'meta', 'ord_mini', 'BASE TABLE', 'column', 'o_date', 3, 'DATE'),
  ('p', 'meta', '-', '-', 'schema', NULL, NULL, NULL)
) AS t(table_catalog, table_schema, table_name, table_type, kind,
       column_name, ordinal_position, data_type),
     (SELECT 1 FROM orders LIMIT 1) AS src_probe
ORDER BY kind, table_name, ordinal_position
"""


def q63_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery full-text ``SEARCH(data, query)``: TRUE when every
    query token appears among the data's tokens (default LOG_ANALYZER
    tokenization: lowercase + split on non-alphanumeric runes). The
    rewrite is a pure JVM HOF (forall + array_contains over split) —
    a map-only predicate that pushes into the scan stage at any scale;
    a search INDEX is the reference's acceleration, which on Spark is
    the same predicate over a pre-tokenized inverted-index table (see
    operators/text.py fingerprints for the layout)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT
      COUNT(*) AS n_docs,
      COUNTIF(SEARCH(text, 'spark merge')) AS hits_both,
      COUNTIF(SEARCH(text, 'Spark')) AS hits_spark,
      COUNTIF(SEARCH(text, 'window WINDOW')) AS hits_dup_tok,
      COUNTIF(SEARCH(CONCAT(source, '-', lang), source)) AS hits_self,
      COUNTIF(SEARCH(text, 'zzz_unseen')) AS hits_none
    FROM documents
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


def _q63_oracle() -> str:
    from .dialect import LOG_ANALYZER_DELIMS

    def tok(e: str) -> str:
        # mirrors the engine's LOG_ANALYZER delimiter-list split
        # (round 10 — shared dialect.LOG_ANALYZER_DELIMS)
        return (
            f"list_filter(string_split_regex(lower({e}),"
            f" '{LOG_ANALYZER_DELIMS}'), "
            f"x -> x != '')"
        )

    def search(data: str, query: str) -> str:
        # vacuous TRUE only for EMPTY query tokens; NULL data is not a
        # hit (engine forall yields NULL — review finding r9)
        return (
            f"CASE WHEN len({tok(query)}) = 0 THEN TRUE"
            f" ELSE list_aggregate(list_transform({tok(query)}, "
            f"__sq_tok -> coalesce(list_contains({tok(data)}, __sq_tok),"
            f" FALSE)), "
            f"'bool_and') END"
        )

    return f"""
SELECT COUNT(*) AS n_docs,
  COUNT(*) FILTER (WHERE {search('text', "'spark merge'")}) AS hits_both,
  COUNT(*) FILTER (WHERE {search('text', "'Spark'")}) AS hits_spark,
  COUNT(*) FILTER (WHERE {search('text', "'window WINDOW'")}) AS hits_dup_tok,
  COUNT(*) FILTER (WHERE {search("source || '-' || lang", 'source')}) AS hits_self,
  COUNT(*) FILTER (WHERE {search('text', "'zzz_unseen'")}) AS hits_none
FROM documents
"""


Q63_SQL = _q63_oracle()


def q64_bq_functions8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eighth function batch — SOUNDEX, INITCAP, REGEXP_INSTR and
    TRANSLATE (all same-shape Spark builtins, certified by value
    because DuckDB lacks soundex/initcap: the oracle pins the expected
    outputs as literals, the entry computes them through the dialect)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT SOUNDEX('Robert') AS sx_r, SOUNDEX('Rupert') AS sx_r2,
           SOUNDEX('Ashcraft') AS sx_a,
           INITCAP('spark SQL engine') AS ic,
           CAST(REGEXP_INSTR('a1b22c333', '[0-9]+') AS INT64) AS ri_hit,
           CAST(REGEXP_INSTR('abc', '[0-9]+') AS INT64) AS ri_miss,
           TRANSLATE('abcd', 'bd', 'xy') AS tr,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q64_SQL = """
SELECT 'R163' AS sx_r, 'R163' AS sx_r2, 'A261' AS sx_a,
       'Spark Sql Engine' AS ic,
       CAST(2 AS BIGINT) AS ri_hit, CAST(0 AS BIGINT) AS ri_miss,
       translate('abcd', 'bd', 'xy') AS tr,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
"""


def bqml_generate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG composition in one script: ML.GENERATE_EMBEDDING over a
    document slice (deterministic feature-hashing projector — see
    ml/sql_ml.rewrite_ml_generate_embedding for the documented
    divergence from BigQuery's remote models), materialized as a view,
    then VECTOR_SEARCH over the embedded corpus with a cosine probe.
    top_k covers the whole slice so the deterministic outer ORDER BY
    (dist, base_id) — not the window cut — decides the result under
    8-dim distance ties."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE OR REPLACE TEMPORARY VIEW emb_docs AS
    SELECT doc_id, ml_generate_embedding_result AS embedding,
           ml_generate_embedding_status AS status
    FROM ML.GENERATE_EMBEDDING(MODEL `p.d.text_embedder`,
      (SELECT doc_id, text AS content FROM documents WHERE doc_id < 120));
    SELECT query.doc_id AS query_id, base.doc_id AS base_id,
           ROUND(distance, 6) + 0 AS dist,
           ROUND(base.embedding[OFFSET(0)], 6) + 0 AS e0,
           base.status AS status
    FROM VECTOR_SEARCH(TABLE emb_docs, 'embedding',
      (SELECT doc_id, embedding FROM emb_docs WHERE doc_id = 3),
      top_k => 500, distance_type => 'COSINE')
    ORDER BY dist, base_id LIMIT 10
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


def _bqml_gen_emb_oracle() -> str:
    dim = 8
    return f"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x != '')) AS t
  FROM documents WHERE doc_id < 120
), votes AS (
  SELECT doc_id, d,
         SUM(CASE WHEN (('0x' || substr(md5(t || ':' || d), 1, 15))::BIGINT
                        % 2) = 0 THEN 1.0 ELSE -1.0 END) AS v
  FROM toks CROSS JOIN (SELECT UNNEST(range(0, {dim})) AS d)
  GROUP BY doc_id, d
), raw_emb AS (
  SELECT doc_id, list(v ORDER BY d) AS e FROM votes GROUP BY doc_id
), emb AS (
  SELECT doc_id,
         CASE WHEN sqrt(list_sum(list_transform(e, y -> y * y))) > 0
              THEN list_transform(e,
                     x -> x / sqrt(list_sum(list_transform(e, y -> y * y))))
              ELSE e END AS e
  FROM raw_emb
), q AS (
  SELECT e AS qe FROM emb WHERE doc_id = 3
), scored AS (
  SELECT b.doc_id AS base_id,
         1 - list_sum(list_transform(range(1, {dim} + 1),
               i -> b.e[i] * qe[i]))
           / (sqrt(list_sum(list_transform(b.e, x -> x * x)))
              * sqrt(list_sum(list_transform(qe, x -> x * x)))) AS dist,
         b.e[1] AS e0
  FROM emb b, q
)
SELECT CAST(3 AS BIGINT) AS query_id, base_id, ROUND(dist, 6) + 0 AS dist,
       ROUND(e0, 6) + 0 AS e0, '' AS status
FROM scored ORDER BY dist, base_id LIMIT 10
"""


BQML_GEN_EMB_SQL = _bqml_gen_emb_oracle()


def q65_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery ``GAP_FILL`` time-series table function over sparse
    hourly revenue: all three fill methods (locf / linear / null) in
    one call. The rewrite (dialect._rewrite_gap_fill) builds the
    missing-bucket spine with a per-partition sequence() explode and
    fills via IGNORE NULLS navigation windows — partition-local at any
    series count; the oracle reproduces spine + fills with
    generate_series and the same window algebra."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    WITH src AS (
      SELECT event_type, TIMESTAMP_TRUNC(ts, HOUR) AS ts,
             CAST(ROUND(SUM(value) * 1000000) AS INT64) AS y
      FROM events WHERE MOD(user_id, 37) = 0
      GROUP BY event_type, TIMESTAMP_TRUNC(ts, HOUR)
    )
    SELECT event_type, ts, a AS locf_mic, b AS lin_mic, c AS null_mic
    FROM GAP_FILL((SELECT event_type, ts, y AS a, y AS b, y AS c FROM src),
      ts_column => 'ts', bucket_width => INTERVAL 1 HOUR,
      partitioning_columns => ['event_type'],
      value_columns => [('a', 'locf'), ('b', 'linear'), ('c', 'null')])
    ORDER BY event_type, ts
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q65_SQL = """
WITH src AS (
  SELECT event_type, date_trunc('hour', ts) AS ts,
         CAST(ROUND(SUM(value) * 1000000) AS BIGINT) AS y
  FROM events WHERE user_id % 37 = 0
  GROUP BY event_type, date_trunc('hour', ts)
), bounds AS (
  SELECT event_type, min(ts) AS t0, max(ts) AS t1 FROM src GROUP BY event_type
), spine AS (
  SELECT event_type, UNNEST(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
  FROM bounds
), j AS (
  SELECT s.event_type, s.ts, y
  FROM spine s LEFT JOIN src USING (event_type, ts)
), filled AS (
  SELECT event_type, ts, y,
    last_value(y IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN y IS NOT NULL THEN ts END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    first_value(y IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN y IS NOT NULL THEN ts END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY ts
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM j
)
SELECT event_type, ts,
  pv AS locf_mic,
  -- exact-integer micro inputs + identical IEEE op order as the
  -- engine's rewrite => bit-identical doubles, no rounding needed
  -- (a final ROUND would re-open half-up/half-even ties on exact
  -- interpolated midpoints)
  CASE WHEN y IS NOT NULL THEN CAST(y AS DOUBLE)
       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
           * (CAST(epoch(ts) - epoch(pt) AS DOUBLE)
              / CAST(epoch(nt) - epoch(pt) AS DOUBLE))
       END AS lin_mic,
  y AS null_mic
FROM filled
ORDER BY event_type, ts
"""


_Q66_BODY = """
WITH RECURSIVE reach(node, depth) AS (
  SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
  UNION ALL
  SELECT DISTINCT MOD(o.o_orderkey, 500) AS node, r.depth + 1
  FROM reach r JOIN orders o ON o.o_custkey = r.node
  WHERE r.depth < 3
)
SELECT node, CAST(MIN(depth) AS BIGINT) AS min_depth,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM reach GROUP BY node ORDER BY node
"""


def q66_with_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` passthrough (BigQuery 2023 / Spark 4 both
    speak the identical ANSI form): bounded-depth reachability over the
    orders graph (customer -> MOD(orderkey, 500) edges), grouped
    closure. Complements the iterative-operator formulations
    (q43_recursive_closure, star-CC) with the declarative surface —
    Spark plans each recursion step as a joined UNION ALL iteration
    with the DISTINCT cap bounding per-step width."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    w = SparkSQLExecutor(
        {"script": _Q66_BODY, "dry_run": False}, WorkerContext(spark)
    )
    w.execute()
    return w.result


Q66_SQL = _Q66_BODY


def q67_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery pipe query syntax (GoogleSQL 2024) end-to-end: WHERE ->
    EXTEND -> AGGREGATE..GROUP BY -> SET -> RENAME -> ORDER BY+LIMIT
    (merged into one TakeOrdered) over orders. The dialect folds each
    |> operator into one subquery wrap (dialect._rewrite_pipe_syntax),
    so Catalyst sees exactly the standard-SQL plan; the oracle IS that
    standard query."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    FROM orders
    |> WHERE o_orderkey <= 5000
    |> EXTEND ROUND(o_totalprice / 1000, 3) AS kprice
    |> AGGREGATE ROUND(SUM(kprice), 3) AS total_k, COUNT(*) AS n
       GROUP BY o_orderpriority, o_orderstatus
    |> SET total_k = total_k + 1
    |> RENAME n AS n_orders
    |> WHERE n_orders > 3
    |> ORDER BY total_k DESC, o_orderpriority, o_orderstatus
    |> LIMIT 10
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q67_SQL = """
SELECT o_orderpriority, o_orderstatus, total_k + 1 AS total_k,
       n AS n_orders
FROM (
  SELECT o_orderpriority, o_orderstatus,
         ROUND(SUM(ROUND(o_totalprice / 1000, 3)), 3) AS total_k,
         COUNT(*) AS n
  FROM orders WHERE o_orderkey <= 5000
  GROUP BY o_orderpriority, o_orderstatus
)
WHERE n > 3
ORDER BY total_k + 1 DESC, o_orderpriority, o_orderstatus
LIMIT 10
"""


def q68_ml_preprocessing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery's TRANSFORM-clause preprocessing functions:
    ML.BUCKETIZE (split-point binning -> 'bin_k'), ML.FEATURE_CROSS
    (pairwise categorical crossing, struct output field-accessed), and
    ML.NGRAMS (token n-gram ranges with separators). All compile to
    JVM HOF/CASE expressions — map-only inside codegen, composable
    inside CREATE MODEL TRANSFORM(...)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT o_orderkey,
      ML.BUCKETIZE(o_totalprice, [50000, 150000, 300000]) AS price_bin,
      ML.FEATURE_CROSS(
        STRUCT(o_orderpriority AS pri, o_orderstatus AS st)).pri_st
        AS pri_x_st,
      ARRAY_TO_STRING(
        ML.NGRAMS(SPLIT(o_orderpriority, '-'), [1, 2], '+'), '|')
        AS pri_grams
    FROM orders WHERE o_orderkey <= 600
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q68_SQL = """
SELECT o_orderkey,
  'bin_' || CAST(1 + len(list_filter([50000.0, 150000.0, 300000.0],
            p -> p <= o_totalprice)) AS VARCHAR) AS price_bin,
  o_orderpriority || '_' || o_orderstatus AS pri_x_st,
  array_to_string(
    flatten(list_transform(range(1, 3), n ->
      CASE WHEN len(string_split(o_orderpriority, '-')) >= n
           THEN list_transform(
             range(1, len(string_split(o_orderpriority, '-')) - n + 2),
             i -> array_to_string(
               string_split(o_orderpriority, '-')[i:i + n - 1], '+'))
           ELSE CAST([] AS VARCHAR[]) END)), '|') AS pri_grams
FROM orders WHERE o_orderkey <= 600
"""


def bqml_feature_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE MODEL with a TRANSFORM clause (numeric scaling +
    ML.BUCKETIZE + categorical passthrough), then ML.FEATURE_INFO —
    BigQuery's per-feature training-statistics view. Stats come from
    the persisted transformed source (exactly the rows the fit
    consumed), so the oracle recomputes them from the same SQL."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE OR REPLACE MODEL `p.d.fi_model`
    TRANSFORM(CAST(o_totalprice / 1000 AS FLOAT64) AS kprice,
              ML.BUCKETIZE(o_totalprice, [100000, 200000]) AS price_bin,
              o_orderpriority AS pri, label)
    OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
            DATA_SPLIT_METHOD='NO_SPLIT')
    AS SELECT o_totalprice, o_orderpriority,
              IF(o_orderstatus = 'F', 1, 0) AS label
       FROM orders WHERE o_orderkey <= 2000;
    SELECT input, min, max, mean, stddev, category_count, null_count
    FROM ML.FEATURE_INFO(MODEL `p.d.fi_model`) ORDER BY input
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


BQML_FEATURE_INFO_SQL = """
WITH tf AS (
  SELECT CAST(o_totalprice / 1000 AS DOUBLE) AS kprice,
         'bin_' || CAST(1 + len(list_filter([100000.0, 200000.0],
                    p -> p <= o_totalprice)) AS VARCHAR) AS price_bin,
         o_orderpriority AS pri
  FROM orders WHERE o_orderkey <= 2000
)
SELECT * FROM (
  SELECT 'kprice' AS input, ROUND(MIN(kprice), 6) AS min,
         ROUND(MAX(kprice), 6) AS max, ROUND(AVG(kprice), 6) AS mean,
         ROUND(stddev_samp(kprice), 6) AS stddev,
         CAST(NULL AS BIGINT) AS category_count,
         CAST(COUNT(*) FILTER (WHERE kprice IS NULL) AS BIGINT)
           AS null_count
  FROM tf
  UNION ALL
  SELECT 'price_bin', NULL, NULL, NULL, NULL,
         CAST(COUNT(DISTINCT price_bin) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE price_bin IS NULL) AS BIGINT)
  FROM tf
  UNION ALL
  SELECT 'pri', NULL, NULL, NULL, NULL,
         CAST(COUNT(DISTINCT pri) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE pri IS NULL) AS BIGINT)
  FROM tf
) ORDER BY input
"""


def q69_pipe_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composability tripwire: pipe syntax driving SEARCH(), ML.NGRAMS,
    ML.BUCKETIZE and an AGGREGATE..GROUP BY in one statement — every
    rewrite layer (pipe fold -> misc-fn expansion -> rename passes) has
    to compose for this to parse and hash-match."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    FROM documents
    |> WHERE SEARCH(text, 'spark')
    |> EXTEND ARRAY_LENGTH(ML.NGRAMS(SPLIT(text, ' '), [2, 2])) AS n_bigrams
    |> EXTEND ML.BUCKETIZE(n_chars, [200, 400]) AS len_bin
    |> AGGREGATE COUNT(*) AS n_docs,
       CAST(SUM(n_bigrams) AS INT64) AS total_bigrams
       GROUP BY lang, len_bin
    |> ORDER BY lang, len_bin
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


def _log_tok_sql(col: str) -> str:
    """DuckDB mirror of the engine's LOG_ANALYZER tokenization — the
    shared delimiter list (round-10 review finding: Q69/Q84 kept the
    old [^a-z0-9]+ split after the engine moved to the documented
    delimiters, silently breaking the one-definition invariant)."""
    from .dialect import LOG_ANALYZER_DELIMS

    return (
        f"list_filter(string_split_regex(lower({col}),"
        f" '{LOG_ANALYZER_DELIMS}'), x -> x != '')"
    )


Q69_SQL = f"""
WITH hits AS (
  SELECT lang, n_chars,
         len(string_split(text, ' ')) AS n_words
  FROM documents
  WHERE list_contains({_log_tok_sql('text')}, 'spark')
)
SELECT lang,
       'bin_' || CAST(1 + len(list_filter([200.0, 400.0],
                 p -> p <= n_chars)) AS VARCHAR) AS len_bin,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_words >= 2 THEN n_words - 1 ELSE 0 END)
            AS BIGINT) AS total_bigrams
FROM hits
GROUP BY 1, 2
ORDER BY lang, len_bin
"""


def q70_bq_functions9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ninth function batch — two-arg LOG (BigQuery's LOG(x, base) has
    the REVERSED argument order vs Spark's log(base, x): without the
    dialect swap LOG(8, 2) silently returns 1/3 instead of 3),
    MAX_BY/MIN_BY, BIT_AND/BIT_OR/BIT_XOR aggregates, PERCENT_RANK,
    COVAR_POP/COVAR_SAMP, LPAD/RPAD. All value-certified against
    DuckDB over the same orders slice; PERCENT_RANK summed over a
    unique-key ordering so the window is deterministic."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             PERCENT_RANK() OVER (ORDER BY o_orderkey) AS pr
      FROM orders WHERE o_orderkey <= 200
    )
    SELECT LOG(8, 2) AS log2_8,
           ROUND(LOG(LOG(65536, 4), 2), 6) AS log_nested,
           ROUND(LOG(64), 6) AS ln_64,
           MAX_BY(o_orderpriority, o_orderkey) AS prio_last,
           MIN_BY(o_orderpriority, o_orderkey) AS prio_first,
           BIT_AND(o_orderkey) AS b_and,
           BIT_OR(o_orderkey) AS b_or,
           BIT_XOR(o_orderkey) AS b_xor,
           ROUND(SUM(pr), 6) AS pr_sum,
           ROUND(COVAR_POP(o_orderkey, o_custkey), 4) AS cv_pop,
           ROUND(COVAR_SAMP(o_orderkey, o_custkey), 4) AS cv_samp,
           LPAD(CAST(COUNT(*) AS STRING), 6, '0') AS n_pad,
           RPAD('ab', 5, 'xy') AS r_pad
    FROM src
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q70_SQL = """
WITH src AS (
  SELECT o_orderkey, o_custkey, o_orderpriority,
         PERCENT_RANK() OVER (ORDER BY o_orderkey) AS pr
  FROM orders WHERE o_orderkey <= 200
)
SELECT log(2, 8) AS log2_8,
       ROUND(log(2, log(4, 65536)), 6) AS log_nested,
       ROUND(ln(64), 6) AS ln_64,
       max_by(o_orderpriority, o_orderkey) AS prio_last,
       min_by(o_orderpriority, o_orderkey) AS prio_first,
       bit_and(o_orderkey) AS b_and,
       bit_or(o_orderkey) AS b_or,
       bit_xor(o_orderkey) AS b_xor,
       ROUND(SUM(pr), 6) AS pr_sum,
       ROUND(covar_pop(o_orderkey, o_custkey), 4) AS cv_pop,
       ROUND(covar_samp(o_orderkey, o_custkey), 4) AS cv_samp,
       lpad(CAST(COUNT(*) AS VARCHAR), 6, '0') AS n_pad,
       rpad('ab', 5, 'xy') AS r_pad
FROM src
"""


def q71_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The file-exchange statement plane in one script: EXPORT DATA
    writes a query result to parquet, LOAD DATA OVERWRITE reads it back
    into a catalog table, ASSERT gates on the row count surviving the
    roundtrip (BigQuery fails the job on FALSE/NULL), and the final
    SELECT aggregates the RELOADED table — so the oracle (the same
    aggregate straight off `orders`) certifies export+load+assert
    end-to-end, not just the query. Ref: bq_to_storage_exporter.py /
    storage_to_bq_importer.py are the worker twins of these statements."""
    import tempfile

    from .catalog import Catalog
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="export_rt_")
    script = f"""
    EXPORT DATA OPTIONS(
      uri='{tmp}/out/part-*.parquet', format='PARQUET', overwrite=true) AS
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey <= 500;

    LOAD DATA OVERWRITE `p.tmp.reloaded`
    FROM FILES (format='PARQUET', uris=['{tmp}/out/*.parquet']);

    ASSERT (SELECT COUNT(*) FROM `p.tmp.reloaded`) =
           (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 500)
      AS 'roundtrip preserved the row count';

    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_custkey) AS INT64) AS cust_sum,
           ROUND(SUM(o_totalprice), 4) AS price_sum,
           CAST(MIN(o_orderkey) AS INT64) AS min_key,
           CAST(MAX(o_orderkey) AS INT64) AS max_key
    FROM `p.tmp.reloaded`
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False},
        WorkerContext(spark=spark, catalog=Catalog(spark, tempfile.mkdtemp(prefix="export_cat_"))),
    )
    w.execute()
    return w.result


Q71_SQL = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
       ROUND(SUM(o_totalprice), 4) AS price_sum,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders WHERE o_orderkey <= 500
"""


def q72_range_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery RANGE<T> scalar surface (struct<lower,upper> encoding,
    half-open, NULL = UNBOUNDED): literals, constructor, START/END,
    CONTAINS (value and range forms), OVERLAPS (touching ranges do NOT
    overlap), INTERSECT with an unbounded side, and
    GENERATE_RANGE_ARRAY with/without the trailing partial range. All
    value-pinned in the oracle; the probe subquery keeps the entry on
    real testdata."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT
      CAST(RANGE_START(RANGE<DATE> '[2020-01-01, 2020-07-01)') AS STRING) AS s,
      CAST(RANGE_END(RANGE<DATE> '[2020-01-01, UNBOUNDED)') AS STRING) AS e_unb,
      RANGE_CONTAINS(RANGE<DATE> '[2020-01-01, 2020-07-01)', DATE '2020-06-30') AS c_in,
      RANGE_CONTAINS(RANGE<DATE> '[2020-01-01, 2020-07-01)', DATE '2020-07-01') AS c_edge,
      RANGE_CONTAINS(RANGE<DATE> '[2020-01-01, UNBOUNDED)',
                     RANGE(DATE '2021-01-01', DATE '2022-01-01')) AS c_rng,
      RANGE_OVERLAPS(RANGE<DATE> '[2020-01-01, 2020-07-01)',
                     RANGE<DATE> '[2020-06-30, 2020-12-31)') AS o_yes,
      RANGE_OVERLAPS(RANGE<DATE> '[2020-01-01, 2020-07-01)',
                     RANGE<DATE> '[2020-07-01, 2020-12-31)') AS o_touch,
      CAST(RANGE_START(RANGE_INTERSECT(RANGE<DATE> '[2020-01-01, 2020-07-01)',
           RANGE<DATE> '[2020-03-01, UNBOUNDED)')) AS STRING) AS i_lo,
      CAST(RANGE_END(RANGE_INTERSECT(RANGE<DATE> '[2020-01-01, 2020-07-01)',
           RANGE<DATE> '[2020-03-01, UNBOUNDED)')) AS STRING) AS i_up,
      CAST(ARRAY_LENGTH(GENERATE_RANGE_ARRAY(
        RANGE<DATE> '[2020-01-01, 2020-01-10)', INTERVAL 4 DAY)) AS INT64) AS g_all,
      CAST(ARRAY_LENGTH(GENERATE_RANGE_ARRAY(
        RANGE<DATE> '[2020-01-01, 2020-01-10)', INTERVAL 4 DAY, false)) AS INT64) AS g_full,
      CAST(RANGE_END(GENERATE_RANGE_ARRAY(
        RANGE<DATE> '[2020-01-01, 2020-01-10)', INTERVAL 4 DAY)[OFFSET(2)])
        AS STRING) AS g_last_end,
      (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q72_SQL = """
SELECT '2020-01-01' AS s, CAST(NULL AS VARCHAR) AS e_unb,
       TRUE AS c_in, FALSE AS c_edge, TRUE AS c_rng,
       TRUE AS o_yes, FALSE AS o_touch,
       '2020-03-01' AS i_lo, '2020-07-01' AS i_up,
       CAST(3 AS BIGINT) AS g_all, CAST(2 AS BIGINT) AS g_full,
       '2020-01-10' AS g_last_end,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
"""


def q73_range_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE_SESSIONIZE TVF: per-customer 30-day activity ranges from
    orders merge into sessions when they meet or overlap. Compiled to
    three windows over one (customer, lower, upper) sort — a single
    keyed shuffle, no self-join (dialect._rewrite_range_sessionize).
    The oracle reproduces the island detection with plain window SQL in
    DuckDB (separate CTEs — DuckDB cannot nest window calls)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE OR REPLACE TEMPORARY VIEW order_ranges AS
    SELECT o_custkey, RANGE(CAST(o_orderdate AS DATE),
           DATE_ADD(CAST(o_orderdate AS DATE), INTERVAL 30 DAY)) AS r
    FROM orders WHERE o_custkey <= 200;

    SELECT o_custkey,
           CAST(RANGE_START(session_range) AS STRING) AS s_start,
           CAST(RANGE_END(session_range) AS STRING) AS s_end,
           COUNT(*) AS n_orders
    FROM RANGE_SESSIONIZE(TABLE order_ranges, 'r', ['o_custkey'])
    GROUP BY o_custkey, s_start, s_end
    ORDER BY o_custkey, s_start
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q73_SQL = """
WITH r AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS lo,
         CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS up
  FROM orders WHERE o_custkey <= 200
), f AS (
  SELECT *, CASE WHEN lo > max(up) OVER (PARTITION BY o_custkey
            ORDER BY lo, up ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            THEN 1 ELSE 0 END AS brk
  FROM r
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY o_custkey ORDER BY lo, up
            ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
)
SELECT o_custkey,
       CAST(CAST(MIN(lo) AS DATE) AS VARCHAR) AS s_start,
       CAST(CAST(MAX(up) AS DATE) AS VARCHAR) AS s_end,
       COUNT(*) AS n_orders
FROM s
GROUP BY o_custkey, sid
ORDER BY o_custkey, s_start
"""


def q74_snapshot_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE SNAPSHOT TABLE ... CLONE + isolation proof: snapshot the
    base, UPDATE the base through the DML plane, then join snapshot to
    base — the snapshot must still show pre-update values (the clone is
    a directory-level copy, Catalog.clone, so base mutations can't leak
    into it). The oracle computes both states declaratively."""
    import tempfile

    from .catalog import Catalog
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="snap_q_"))
    base = spark.sql(
        "SELECT c_custkey AS id, c_acctbal AS bal FROM customer WHERE c_custkey <= 100"
    )
    cat.write(base, "p.tmp.base")
    script = """
    CREATE SNAPSHOT TABLE `p.tmp.snap` CLONE `p.tmp.base`;
    UPDATE `p.tmp.base` SET bal = bal + 100 WHERE id <= 50;
    SELECT b.id,
           ROUND(s.bal, 4) AS before_bal,
           ROUND(b.bal, 4) AS after_bal
    FROM `p.tmp.base` b JOIN `p.tmp.snap` s ON b.id = s.id
    WHERE b.id <= 60
    ORDER BY b.id
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False},
        WorkerContext(spark=spark, catalog=cat),
    )
    w.execute()
    return w.result


Q74_SQL = """
SELECT c_custkey AS id,
       ROUND(c_acctbal, 4) AS before_bal,
       ROUND(CASE WHEN c_custkey <= 50 THEN c_acctbal + 100
                  ELSE c_acctbal END, 4) AS after_bal
FROM customer
WHERE c_custkey <= 60
ORDER BY id
"""


def q75_aead_encryption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface: a per-run keyset (DECLARE +
    KEYS.NEW_KEYSET), AEAD.ENCRYPT/DECRYPT_STRING roundtrip over
    customer PII, and DETERMINISTIC_ENCRYPT equality (same plaintext +
    aad -> same ciphertext, the property that makes encrypted join keys
    possible; see dialect._rewrite_aead for the GCM-with-synthetic-IV
    construction and its documented divergences from Tink AES-SIV).
    Ciphertexts are key-dependent so the oracle certifies the
    roundtrip/determinism PROPERTIES, not ciphertext bytes."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    DECLARE ks BYTES DEFAULT (SELECT KEYS.NEW_KEYSET('AEAD_AES_GCM_256'));
    SELECT c_custkey,
           AEAD.DECRYPT_STRING(ks, AEAD.ENCRYPT(ks, c_name, CAST(c_custkey AS STRING)),
                               CAST(c_custkey AS STRING)) AS roundtrip,
           DETERMINISTIC_ENCRYPT(ks, c_name, 'join') =
             DETERMINISTIC_ENCRYPT(ks, c_name, 'join') AS det_stable,
           DETERMINISTIC_DECRYPT_STRING(ks,
             DETERMINISTIC_ENCRYPT(ks, c_mktsegment, ''), '') AS det_roundtrip
    FROM customer WHERE c_custkey <= 100
    ORDER BY c_custkey
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q75_SQL = """
SELECT c_custkey, c_name AS roundtrip, TRUE AS det_stable,
       c_mktsegment AS det_roundtrip
FROM customer WHERE c_custkey <= 100
ORDER BY c_custkey
"""


_HAVERSINE_DUCK = (
    "(2.0 * 6371008.8 * asin(sqrt("
    "pow(sin((radians({lat2}) - radians({lat1})) / 2), 2)"
    " + cos(radians({lat1})) * cos(radians({lat2}))"
    " * pow(sin((radians({lon2}) - radians({lon1})) / 2), 2))))"
)


def q76_geography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOGRAPHY point subset: ST_GEOGPOINT / ST_X / ST_Y / ST_ASTEXT /
    ST_GEOGFROMTEXT / ST_DISTANCE / ST_DWITHIN / ST_CENTROID_AGG over
    synthetic store-proximity coordinates derived from customer keys.
    Haversine on a sphere (dialect._EARTH_RADIUS_M documents the ~0.3%
    divergence from BigQuery's ellipsoid); the oracle runs the
    IDENTICAL formula text in DuckDB, 3-dp rounding absorbs libm ulp
    differences."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE OR REPLACE TEMPORARY VIEW cust_geo AS
    SELECT c_custkey,
           ST_GEOGPOINT(-122.0 + MOD(c_custkey, 100) * 0.01,
                        37.0 + MOD(c_custkey, 50) * 0.01) AS loc
    FROM customer WHERE c_custkey <= 300;

    SELECT c_custkey,
           ROUND(ST_DISTANCE(loc, ST_GEOGPOINT(-121.5, 37.25)), 3) AS dist_m,
           ST_DWITHIN(loc, ST_GEOGPOINT(-121.5, 37.25), 50000) AS within_50km,
           ROUND(ST_X(loc), 6) AS lon,
           ROUND(ST_Y(loc), 6) AS lat,
           ST_ASTEXT(ST_GEOGPOINT(-121.5, 37.25)) AS ref_wkt,
           ROUND(ST_X(ST_GEOGFROMTEXT('POINT(-120.5 36.75)')), 6) AS parsed_lon,
           (SELECT ROUND(ST_Y(ST_CENTROID_AGG(loc)), 6) FROM cust_geo) AS centroid_lat,
           ST_GEOHASH(ST_GEOGPOINT(-122.35, 47.62), 5) AS gh5,
           ST_GEOHASH(ST_GEOGPOINT(151.2093, -33.8688), 7) AS gh7,
           ST_GEOHASH(ST_GEOGPOINT(180.0, 90.0), 4) AS gh_edge
    FROM cust_geo ORDER BY c_custkey LIMIT 120
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


_Q76_DIST = _HAVERSINE_DUCK.format(
    lat1="(37.0 + (c_custkey % 50) * 0.01)",
    lon1="(-122.0 + (c_custkey % 100) * 0.01)",
    lat2="37.25",
    lon2="-121.5",
)

Q76_SQL = f"""
WITH cust_geo AS (
  SELECT c_custkey,
         CAST(-122.0 + (c_custkey % 100) * 0.01 AS DOUBLE) AS lon,
         CAST(37.0 + (c_custkey % 50) * 0.01 AS DOUBLE) AS lat
  FROM customer WHERE c_custkey <= 300
)
SELECT c_custkey,
       ROUND({_Q76_DIST}, 3) AS dist_m,
       {_Q76_DIST} <= 50000 AS within_50km,
       ROUND(lon, 6) AS lon,
       ROUND(lat, 6) AS lat,
       'POINT(-121.5 37.25)' AS ref_wkt,
       CAST(-120.5 AS DOUBLE) AS parsed_lon,
       (SELECT ROUND(avg(lat), 6) FROM cust_geo) AS centroid_lat,
       'c22yz' AS gh5,
       'r3gx2f7' AS gh7,
       'zzzz' AS gh_edge
FROM cust_geo ORDER BY c_custkey LIMIT 120
"""


def q77_ml_preprocessing2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second ML preprocessing batch — the remaining TRANSFORM-clause
    analytic functions: ML.MAX_ABS_SCALER, ML.ROBUST_SCALER (median/
    IQR), ML.IMPUTER (mean + median strategies over a column with
    injected NULLs), ML.QUANTILE_BUCKETIZE (equal-count bins via a
    NULL-ignoring cumulative count; NULL -> NULL), plus scalar
    ML.NORMALIZER (L2 and Linf) and ML.HASH_BUCKETIZE (stability +
    range certified — the bucket hash is the engine's xxhash64, so
    values are property-checked, not byte-compared). DuckDB mirrors
    every window with quantile_cont/stddev_samp."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    WITH src AS (
      SELECT o_orderkey AS id, o_custkey,
             CASE WHEN MOD(o_orderkey, 7) = 0 THEN NULL
                  ELSE o_totalprice END AS x
      FROM orders WHERE o_orderkey <= 400
    )
    SELECT id,
      ROUND(ML.STANDARD_SCALER(x) OVER (), 6) AS z,
      ROUND(ML.MAX_ABS_SCALER(x) OVER (), 6) AS ma,
      ROUND(ML.ROBUST_SCALER(x) OVER (), 6) AS rs,
      ROUND(ML.IMPUTER(x, 'mean') OVER (), 4) AS imp_mean,
      ROUND(ML.IMPUTER(x, 'median') OVER (), 4) AS imp_med,
      ML.QUANTILE_BUCKETIZE(x, 4) OVER () AS qb,
      ML.HASH_BUCKETIZE(CAST(o_custkey AS STRING), 16) =
        ML.HASH_BUCKETIZE(CAST(o_custkey AS STRING), 16) AS hb_stable,
      ML.HASH_BUCKETIZE(CAST(o_custkey AS STRING), 16)
        BETWEEN 0 AND 15 AS hb_range,
      ROUND(ML.NORMALIZER([3.0, 4.0])[OFFSET(0)], 6) AS norm_l2,
      ROUND(ML.NORMALIZER([3.0, 4.0], 0)[OFFSET(1)], 6) AS norm_inf,
      ARRAY_TO_STRING(ARRAY(SELECT CAST(CAST(e AS INT64) AS STRING)
        FROM UNNEST(ML.POLYNOMIAL_EXPAND([2.0, 3.0], 2)) AS e), ',') AS poly2
    FROM src ORDER BY id
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q77_SQL = """
WITH src AS (
  SELECT o_orderkey AS id, o_custkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              ELSE o_totalprice END AS x
  FROM orders WHERE o_orderkey <= 400
)
SELECT id,
  ROUND((x - avg(x) OVER ()) / nullif(stddev_samp(x) OVER (), 0), 6) AS z,
  ROUND(x / nullif(max(abs(x)) OVER (), 0), 6) AS ma,
  ROUND((x - quantile_cont(x, 0.5) OVER ()) /
        nullif(quantile_cont(x, 0.75) OVER ()
               - quantile_cont(x, 0.25) OVER (), 0), 6) AS rs,
  ROUND(coalesce(x, avg(x) OVER ()), 4) AS imp_mean,
  ROUND(coalesce(x, quantile_cont(x, 0.5) OVER ()), 4) AS imp_med,
  CASE WHEN x IS NULL THEN NULL ELSE
    'bin_' || CAST(least(4, 1 + CAST(floor((count(x) OVER
      (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - 1) * 4 / count(x) OVER ()) AS INT)) AS VARCHAR) END AS qb,
  TRUE AS hb_stable, TRUE AS hb_range,
  CAST(0.6 AS DOUBLE) AS norm_l2,
  CAST(1.0 AS DOUBLE) AS norm_inf,
  '2,3,4,6,9' AS poly2
FROM src ORDER BY id
"""


def q78_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE MATERIALIZED VIEW -> point-in-time materialization via
    the CTAS machinery (re-running the DDL IS the refresh — documented
    divergence from BigQuery's auto-refresh), then a join of the MV
    aggregate back to the live table, and DROP MATERIALIZED VIEW
    cleanup validated by the script completing."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE OR REPLACE MATERIALIZED VIEW `p.tmp.cust_rev`
    OPTIONS(enable_refresh = true) AS
    SELECT o_custkey, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders GROUP BY o_custkey;

    SELECT c.c_custkey, mv.n_orders, mv.revenue,
           mv.revenue / mv.n_orders AS avg_order
    FROM customer c JOIN `p.tmp.cust_rev` mv ON c.c_custkey = mv.o_custkey
    WHERE c.c_custkey <= 150
    ORDER BY c.c_custkey
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q78_SQL = """
WITH mv AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 4) AS revenue
  FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey, mv.n_orders, mv.revenue,
       mv.revenue / mv.n_orders AS avg_order
FROM customer c JOIN mv ON c.c_custkey = mv.o_custkey
WHERE c.c_custkey <= 150
ORDER BY c.c_custkey
"""


def q79_bq_functions10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tenth function batch — bitwise operator surface (<<, >>, &, |,
    ^, ~ are native in Spark; DuckDB's ^ is POWER so the oracle uses
    xor()), BIT_COUNT, PARSE_NUMERIC/PARSE_BIGNUMERIC decimal casts,
    CODE_POINTS_TO_BYTES (byte values, not code points) certified
    through TO_HEX, and SAFE_CONVERT_BYTES_TO_STRING on valid UTF-8."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT CAST(3 << 2 AS INT64) AS shl,
           CAST(16 >> 2 AS INT64) AS shr,
           CAST(12 & 10 AS INT64) AS b_and,
           CAST(12 | 3 AS INT64) AS b_or,
           CAST(12 ^ 10 AS INT64) AS b_xor,
           CAST(~5 AS INT64) AS b_not,
           CAST(BIT_COUNT(255) AS INT64) AS bc,
           CAST(PARSE_NUMERIC('123.456') AS STRING) AS pn,
           TO_HEX(CODE_POINTS_TO_BYTES([72, 105, 255])) AS cpb,
           SAFE_CONVERT_BYTES_TO_STRING(CODE_POINTS_TO_BYTES([104, 105])) AS scb,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q79_SQL = """
SELECT CAST(3 << 2 AS BIGINT) AS shl,
       CAST(16 >> 2 AS BIGINT) AS shr,
       CAST(12 & 10 AS BIGINT) AS b_and,
       CAST(12 | 3 AS BIGINT) AS b_or,
       CAST(xor(12, 10) AS BIGINT) AS b_xor,
       CAST(~5 AS BIGINT) AS b_not,
       CAST(bit_count(255) AS BIGINT) AS bc,
       '123.456000000' AS pn,
       '4869ff' AS cpb,
       'hi' AS scb,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
"""


def q80_hparam_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter tuning end-to-end: CREATE MODEL with NUM_TRIALS +
    HPARAM_CANDIDATES trains every trial on the AUTO_SPLIT training
    partition, scores each on the reserved split, persists the trial
    table, and ML.TRIAL_INFO exposes it. The grid is deterministic
    (ml/sql_ml._hparam_trials — documented substitute for BigQuery's
    Bayesian search), so trial ids/hyperparameters/status are
    value-pinned in the oracle; objective_value and is_optimal are
    model-fit floats certified by pytest (test_sql_ml), not the hash
    gate."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE OR REPLACE MODEL `p.tmp.tuned_clf`
    OPTIONS(model_type='LOGISTIC_REG', input_label_cols=['label'],
            NUM_TRIALS=4, max_iterations=5,
            l2_reg=HPARAM_CANDIDATES([0.01, 0.1, 1.0, 10.0])) AS
    SELECT CAST(o_custkey AS FLOAT64) AS f1,
           CAST(MOD(o_orderkey, 97) AS FLOAT64) AS f2,
           IF(o_totalprice > 150000, 1, 0) AS label
    FROM orders WHERE o_orderkey <= 600;

    SELECT trial_id, hyperparameters, objective, status
    FROM ML.TRIAL_INFO(MODEL `p.tmp.tuned_clf`)
    ORDER BY trial_id
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q80_SQL = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), '{"l2_reg": 0.01}', 'accuracy', 'SUCCEEDED'),
  (CAST(2 AS BIGINT), '{"l2_reg": 0.1}', 'accuracy', 'SUCCEEDED'),
  (CAST(3 AS BIGINT), '{"l2_reg": 1.0}', 'accuracy', 'SUCCEEDED'),
  (CAST(4 AS BIGINT), '{"l2_reg": 10.0}', 'accuracy', 'SUCCEEDED')
) AS t(trial_id, hyperparameters, objective, status)
WHERE EXISTS (SELECT 1 FROM orders LIMIT 1)
ORDER BY trial_id
"""


def q81_external_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE EXTERNAL TABLE (read-in-place, no copy): EXPORT DATA
    writes a CSV extract with header, an external table with an
    explicit BigQuery-typed schema reads it back in place, a
    partitioned-CTAS (PARTITION BY/CLUSTER BY/OPTIONS are validated
    layout hints — dialect._rewrite_create_table_layout) summarizes it,
    and the final SELECT aggregates that summary. The oracle computes
    the same aggregate straight off orders."""
    import tempfile

    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ext_rt_")
    script = f"""
    EXPORT DATA OPTIONS(
      uri='{tmp}/out/part-*.csv', format='CSV', header=true,
      overwrite=true) AS
    SELECT o_orderkey, o_custkey, o_orderpriority
    FROM orders WHERE o_orderkey <= 300;

    CREATE EXTERNAL TABLE `p.ext.orders_csv`
      (o_orderkey INT64, o_custkey INT64, o_orderpriority STRING)
    OPTIONS(format='CSV', uris=['{tmp}/out/*.csv'], skip_leading_rows=1);

    CREATE OR REPLACE TABLE `p.ext.summary`
    PARTITION BY o_orderpriority CLUSTER BY n OPTIONS(description='layout hints validated')
    AS SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(o_custkey) AS INT64) AS cust_sum
       FROM `p.ext.orders_csv` GROUP BY o_orderpriority;

    SELECT o_orderpriority, n, cust_sum
    FROM `p.ext.summary` ORDER BY o_orderpriority
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q81_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
FROM orders WHERE o_orderkey <= 300
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q82_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-statement transactions over the DML plane: a rolled-back
    UPDATE leaves no trace (directory pre-image restore), a committed
    UPDATE+DELETE pair persists atomically with its backups discarded.
    The final state is the committed mutation only — which is exactly
    what the declarative oracle expresses. Rollback-on-error and
    open-transaction failure paths are pytest-certified
    (test_workers.test_transactions)."""
    import tempfile

    from .catalog import Catalog
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="txn_q_"))
    cat.write(
        spark.sql(
            "SELECT c_custkey AS id, c_acctbal AS bal FROM customer"
            " WHERE c_custkey <= 120"
        ),
        "p.tmp.accounts",
    )
    script = """
    BEGIN TRANSACTION;
    UPDATE `p.tmp.accounts` SET bal = 0 WHERE id <= 120;
    ROLLBACK TRANSACTION;

    BEGIN TRANSACTION;
    UPDATE `p.tmp.accounts` SET bal = bal * 2 WHERE id <= 40;
    DELETE FROM `p.tmp.accounts` WHERE id > 100;
    COMMIT TRANSACTION;

    SELECT id, ROUND(bal, 4) AS bal FROM `p.tmp.accounts` ORDER BY id
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False},
        WorkerContext(spark=spark, catalog=cat),
    )
    w.execute()
    return w.result


Q82_SQL = """
SELECT c_custkey AS id,
       ROUND(CASE WHEN c_custkey <= 40 THEN c_acctbal * 2
                  ELSE c_acctbal END, 4) AS bal
FROM customer
WHERE c_custkey <= 100
ORDER BY id
"""


def q83_vector_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CREATE VECTOR INDEX`` + index-ROUTED ``VECTOR_SEARCH`` (VERDICT
    r5 #3): the DDL materializes a deterministic IVF layout partitioned
    by list_id (sql_executor._materialize_vector_index -> operators/
    ivf.materialize_sql_vector_index), and the search compiles to the
    probe path — per-query nearest-centroid lists via a literal-codebook
    expression, equi-join on the exploded probe ids, and a static
    ``list_id IN (<probe union>)`` partition filter so only probed
    lists are read (PartitionFilters asserted in
    test_ivf_operator_worker). fraction_lists_to_search => 0.25 probes
    4/16 lists; the oracle replays the identical quantizer + probe
    chain in DuckDB, so the hash match certifies the routed result, not
    just its shape. ``use_brute_force => true`` / unindexed tables keep
    the exact path (pytest-certified equality at fraction 1.0)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE VECTOR INDEX q83_vidx ON embeddings(embedding)
      OPTIONS(index_type='IVF', distance_type='COSINE');
    SELECT query.vec_id AS query_id, base.vec_id AS base_id,
           base.label AS label, ROUND(distance, 6) + 0 AS dist
    FROM VECTOR_SEARCH(TABLE embeddings, 'embedding',
      (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
      top_k => 10, distance_type => 'COSINE',
      options => '{"fraction_lists_to_search": 0.25}')
    ORDER BY dist, base_id
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    assert any("routed through index" in line for line in w.log), w.log
    return w.result


def _q83_oracle() -> str:
    from .operators.ivf import (
        IVF_TOP_K,
        _SQL_SQ_L2,
        _sql_assigned_ctes,
    )

    n_probe = 4  # ceil(0.25 * IVF_K)
    return f"""
WITH {_sql_assigned_ctes()}, q AS (
  SELECT vec_id AS qid, v AS qv FROM vecs WHERE vec_id = 0
), probe AS (
  SELECT list_id
  FROM c2, q
  ORDER BY {_SQL_SQ_L2.format(a='c', b='qv')} ASC, list_id ASC
  LIMIT {n_probe}
), scored AS (
  SELECT q.qid AS query_id, b.vec_id AS base_id, b.label,
         1 - list_sum(list_transform(range(1, len(b.v) + 1),
                                     i -> b.v[i] * qv[i]))
           / (sqrt(list_sum(list_transform(qv, x -> x * x)))
              * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS d
  FROM assigned b, q
  WHERE b.list_id IN (SELECT list_id FROM probe)
), ranked AS (
  SELECT query_id, base_id, label, d,
         row_number() OVER (ORDER BY d ASC) AS rn
  FROM scored
)
SELECT query_id, base_id, label, ROUND(d, 6) + 0 AS dist
FROM ranked WHERE rn <= {IVF_TOP_K}
ORDER BY dist, base_id
"""


Q83_SQL = _q83_oracle()


def q85_vocab_encoders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-dependent TRANSFORM encoders (VERDICT r5 #4):
    ML.LABEL_ENCODER / ML.ONE_HOT_ENCODER / ML.MULTI_HOT_ENCODER inside
    CREATE MODEL TRANSFORM(...). The vocabulary is fitted ONCE from the
    training input (frequency DESC, value ASC — deterministic, so the
    oracle can replay it), inlined into the persisted clause as a
    literal map (sql_ml._fit_vocab_encoders), and replayed verbatim by
    ML.TRANSFORM / ML.PREDICT — train/serve skew impossible by
    construction. Encoding contract certified here: ranks 1..top_k,
    NULL/unseen/below-threshold -> 0; one-hot emits a sparse
    struct array (flattened to scalars for the hash compare)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE OR REPLACE MODEL `p.d.q85_enc`
    TRANSFORM(
      c_custkey,
      ML.LABEL_ENCODER(c_mktsegment, 3, 2) OVER () AS seg_enc,
      ML.ONE_HOT_ENCODER(c_mktsegment) OVER () AS seg_oh,
      ML.MULTI_HOT_ENCODER(SPLIT(c_mktsegment, 'O')) OVER () AS seg_mh,
      c_acctbal,
      IF(c_acctbal > 0, 1, 0) AS label
    )
    OPTIONS(model_type='LOGISTIC_REG', input_label_cols=['label'],
            max_iterations=3, data_split_method='NO_SPLIT')
    AS SELECT c_mktsegment, c_acctbal, c_custkey FROM customer
       WHERE c_custkey <= 100;

    SELECT seg_enc,
           MIN(seg_oh[OFFSET(0)].index) AS oh_min_idx,
           MAX(seg_oh[OFFSET(0)].index) AS oh_max_idx,
           MAX(seg_oh[OFFSET(0)].value) AS oh_value,
           CAST(MIN(ARRAY_LENGTH(seg_mh)) AS INT64) AS mh_min_n,
           CAST(MAX(ARRAY_LENGTH(seg_mh)) AS INT64) AS mh_max_n,
           MAX(seg_mh[OFFSET(0)].index) AS mh_first_idx,
           COUNT(*) AS n,
           CAST(MIN(c_custkey) AS INT64) AS first_key
    FROM ML.TRANSFORM(MODEL `p.d.q85_enc`,
      (SELECT c_mktsegment, c_acctbal, c_custkey FROM customer
       WHERE c_custkey <= 100))
    GROUP BY seg_enc ORDER BY seg_enc
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q85_SQL = """
WITH src AS (
  SELECT c_mktsegment AS seg, c_acctbal, c_custkey
  FROM customer WHERE c_custkey <= 100
), label_vocab AS (
  SELECT seg, row_number() OVER (ORDER BY COUNT(*) DESC, seg ASC) AS rnk
  FROM src WHERE seg IS NOT NULL
  GROUP BY seg HAVING COUNT(*) >= 2
  ORDER BY COUNT(*) DESC, seg ASC LIMIT 3
), oh_vocab AS (
  SELECT seg, row_number() OVER (ORDER BY COUNT(*) DESC, seg ASC) AS rnk
  FROM src WHERE seg IS NOT NULL GROUP BY seg
), mh_vocab AS (
  SELECT part, row_number() OVER (ORDER BY COUNT(*) DESC, part ASC) AS rnk
  FROM (SELECT UNNEST(string_split(seg, 'O')) AS part FROM src)
  WHERE part IS NOT NULL GROUP BY part
), enc AS (
  SELECT s.c_custkey,
         COALESCE(lv.rnk, 0) AS seg_enc,
         COALESCE(ov.rnk, 0) AS oh_idx,
         (SELECT list(mv.rnk ORDER BY mv.rnk) FROM mh_vocab mv
          WHERE list_contains(
            list_distinct(string_split(s.seg, 'O')), mv.part)) AS mh_idx
  FROM src s
  LEFT JOIN label_vocab lv ON s.seg = lv.seg
  LEFT JOIN oh_vocab ov ON s.seg = ov.seg
)
SELECT CAST(seg_enc AS BIGINT) AS seg_enc,
       CAST(MIN(oh_idx) AS BIGINT) AS oh_min_idx,
       CAST(MAX(oh_idx) AS BIGINT) AS oh_max_idx,
       CAST(1.0 AS DOUBLE) AS oh_value,
       CAST(MIN(len(mh_idx)) AS BIGINT) AS mh_min_n,
       CAST(MAX(len(mh_idx)) AS BIGINT) AS mh_max_n,
       CAST(MAX(mh_idx[1]) AS BIGINT) AS mh_first_idx,
       COUNT(*) AS n,
       CAST(MIN(c_custkey) AS BIGINT) AS first_key
FROM enc GROUP BY seg_enc ORDER BY seg_enc
"""


def q86_tfidf_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ML.TF_IDF`` inside CREATE MODEL TRANSFORM (completes the
    vocabulary-encoder family, VERDICT r5 #4): vocabulary ranked by
    DOCUMENT frequency (DESC, value ASC), value = tf(t,d) * idf(t)
    with tf = count/len and smoothed idf = ln((N+1)/(df+1)) + 1 —
    deterministic, inlined as literal idf/index maps, replayed
    verbatim by ML.TRANSFORM. The oracle recomputes the identical
    formula text in DuckDB; ROUND(,4) absorbs the JVM-vs-libm ln()
    ulp."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE OR REPLACE MODEL `p.d.q86_tfidf`
    TRANSFORM(
      ML.TF_IDF(SPLIT(LOWER(text), ' '), 12, 2) OVER () AS tf,
      doc_id AS label
    )
    OPTIONS(model_type='LINEAR_REG', input_label_cols=['label'],
            max_iterations=2, data_split_method='NO_SPLIT')
    AS SELECT text, doc_id FROM documents WHERE doc_id < 60;

    SELECT label AS doc_id, e.index AS idx, ROUND(e.value, 4) + 0 AS val
    FROM ML.TRANSFORM(MODEL `p.d.q86_tfidf`,
      (SELECT text, doc_id FROM documents WHERE doc_id < 8)), UNNEST(tf) AS e
    ORDER BY doc_id, idx
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


Q86_SQL = """
WITH corpus AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks
  FROM documents WHERE doc_id < 60
), stats AS (
  SELECT COUNT(*) AS n_docs FROM corpus
), vocab AS (
  SELECT tok,
         COUNT(*) AS df,
         row_number() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rnk
  FROM (SELECT doc_id, UNNEST(list_distinct(toks)) AS tok FROM corpus)
  GROUP BY tok HAVING COUNT(*) >= 2
  ORDER BY df DESC, tok ASC LIMIT 12
), probe AS (
  SELECT doc_id, toks FROM corpus WHERE doc_id < 8
), expanded AS (
  SELECT p.doc_id, v.rnk AS idx,
         (CAST(len(list_filter(p.toks, t -> t = v.tok)) AS DOUBLE)
          / CAST(len(p.toks) AS DOUBLE))
         * (ln(CAST(s.n_docs + 1 AS DOUBLE) / CAST(v.df + 1 AS DOUBLE))
            + CAST(1 AS DOUBLE)) AS val
  FROM probe p, vocab v, stats s
  WHERE list_contains(p.toks, v.tok)
)
SELECT doc_id, CAST(idx AS BIGINT) AS idx, ROUND(val, 4) + 0 AS val
FROM expanded ORDER BY doc_id, idx
"""


def q84_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CREATE SEARCH INDEX`` + index-ROUTED ``SEARCH()`` (VERDICT r5
    #7): the DDL materializes a (token, __id) postings layout
    partitioned by token-hash bucket (operators/text.
    materialize_search_index), and the predicate compiles to an
    IN-subquery semi join over posting lists pruned to the query
    tokens' buckets — the executed plan reads ``struct<doc_id>`` from
    the corpus (text column pruned) and the postings scan carries
    ``PartitionFilters: [tok_bucket IN (...)]`` (asserted in
    test_workers). Scan-side SEARCH() equality is pytest-certified;
    this oracle certifies the routed RESULT against DuckDB's own
    conjunctive token query."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE SEARCH INDEX q84_sidx ON documents(text);
    SELECT d.doc_id, d.lang, d.source
    FROM documents AS d
    WHERE SEARCH(d.text, 'spark merge') AND NOT SEARCH(d.text, 'window')
    ORDER BY d.doc_id
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    assert any("routed through index" in line for line in w.log), w.log
    return w.result


Q84_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_log_tok_sql('text')} AS t
  FROM documents
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN toks USING (doc_id)
WHERE list_contains(t, 'spark') AND list_contains(t, 'merge')
  AND NOT list_contains(t, 'window')
ORDER BY d.doc_id
"""


def _q49_oracle() -> str:
    from .functions.psl import reg_domain_sql

    dom_uk = reg_domain_sql("'www.' || lower(c_mktsegment) || '.co.uk'")
    dom_com = reg_domain_sql("'shop.' || lower(c_mktsegment) || '.com'")
    instr_all = (
        "list_filter(range(1, length({v}) - length({s}) + 2), "
        "p -> substring({v}, p, length({s})) = {s})"
    )
    zero_all = instr_all.format(v="c_name", s="'0'")
    dd_all = instr_all.format(v="c_name", s="'00'")
    return f"""
SELECT
  c_custkey,
  {dom_uk} AS dom_uk,
  {dom_com} AS dom_com,
  CAST(coalesce(list_extract({zero_all}, 3), 0) AS BIGINT) AS zero_3rd,
  CAST(coalesce(list_extract(list_reverse({zero_all}), 1), 0) AS BIGINT)
    AS zero_last,
  CAST(coalesce(
    list_extract(list_filter({dd_all}, p -> p >= 2), 2), 0) AS BIGINT)
    AS dd_2nd,
  c_name AS name_norm,
  lower(c_mktsegment) AS seg_cf
FROM customer
WHERE c_custkey <= 300
"""


Q49_SQL = _q49_oracle()


def q50_hll_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL_COUNT sketch-algebra script: INIT sketches per (priority,
    year), EXTRACT per-group cardinalities, MERGE across years, and
    APPROX_COUNT_DISTINCT — the re-aggregatable distinct-count pattern
    BigQuery marketing dashboards build on. The engine's implementation
    is the zero-error estimator (exact distinct sets; see
    dialect._rewrite_hll_family), so the DuckDB oracle reproduces every
    value exactly."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    WITH by_year AS (
      SELECT o_orderpriority AS prio,
             EXTRACT(YEAR FROM o_orderdate) AS yr,
             HLL_COUNT.INIT(o_custkey) AS sk
      FROM orders GROUP BY prio, yr
    ), merged AS (
      SELECT prio,
             CAST(SUM(HLL_COUNT.EXTRACT(sk)) AS INT64) AS sum_yearly,
             HLL_COUNT.MERGE(sk) AS uniq_custs,
             CAST(ARRAY_LENGTH(HLL_COUNT.MERGE_PARTIAL(sk)) AS INT64)
               AS partial_size
      FROM by_year GROUP BY prio
    ), direct AS (
      SELECT o_orderpriority AS prio,
             APPROX_COUNT_DISTINCT(o_custkey) AS acd
      FROM orders GROUP BY prio
    )
    SELECT m.prio, m.sum_yearly, m.uniq_custs, m.partial_size, d.acd
    FROM merged m JOIN direct d ON m.prio = d.prio
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, WorkerContext(spark))
    w.execute()
    return w.result


def q50_hll_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q50 sketch script on the SCALE path (``approx_sketches=True``
    routes the HLL family to Spark's DataSketches builtins — constant
    memory per group instead of exact distinct sets). Driver-checkable
    despite the estimator being non-reproducible in DuckDB: the entry
    emits the EXACT per-group cardinality plus booleans asserting the
    HLL estimates landed within 10% — ~2 standard errors for
    APPROX_COUNT_DISTINCT's default rsd=5% HLL++, comfortably wide for
    the DataSketches MERGE path (~1.6% at lgConfigK=12) — so the oracle
    is a plain deterministic aggregate with TRUE literals: any
    out-of-bounds estimate flips a boolean and fails the hash compare."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    WITH by_year AS (
      SELECT o_orderpriority AS prio,
             EXTRACT(YEAR FROM o_orderdate) AS yr,
             HLL_COUNT.INIT(o_custkey) AS sk
      FROM orders GROUP BY prio, yr
    ), merged AS (
      SELECT prio, HLL_COUNT.MERGE(sk) AS uniq_custs
      FROM by_year GROUP BY prio
    ), direct AS (
      SELECT o_orderpriority AS prio,
             APPROX_COUNT_DISTINCT(o_custkey) AS acd
      FROM orders GROUP BY prio
    )
    SELECT m.prio, m.uniq_custs, d.acd
    FROM merged m JOIN direct d ON m.prio = d.prio
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False, "approx_sketches": True},
        WorkerContext(spark),
    )
    w.execute()
    approx = w.result
    exact = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(F.countDistinct("o_custkey").alias("exact_uniq"))
    )
    tol = F.col("exact_uniq") * 0.10
    return approx.join(exact, "prio").select(
        "prio",
        "exact_uniq",
        (F.abs(F.col("uniq_custs") - F.col("exact_uniq")) <= tol).alias(
            "merge_within_10pct"
        ),
        (F.abs(F.col("acd") - F.col("exact_uniq")) <= tol).alias(
            "acd_within_10pct"
        ),
    )


Q50_APPROX_SQL = """
SELECT o_orderpriority AS prio,
       COUNT(DISTINCT o_custkey) AS exact_uniq,
       TRUE AS merge_within_10pct,
       TRUE AS acd_within_10pct
FROM orders GROUP BY prio
"""


Q50_SQL = """
WITH by_year AS (
  SELECT o_orderpriority AS prio,
         EXTRACT(YEAR FROM o_orderdate) AS yr,
         list(DISTINCT o_custkey) AS sk
  FROM orders GROUP BY 1, 2
), merged AS (
  SELECT prio,
         CAST(SUM(len(sk)) AS BIGINT) AS sum_yearly,
         CAST(len(list_distinct(flatten(list(sk)))) AS BIGINT) AS uniq_custs,
         CAST(len(list_distinct(flatten(list(sk)))) AS BIGINT) AS partial_size
  FROM by_year GROUP BY prio
), direct AS (
  SELECT o_orderpriority AS prio,
         COUNT(DISTINCT o_custkey) AS acd
  FROM orders GROUP BY 1
)
SELECT m.prio, m.sum_yearly, m.uniq_custs, m.partial_size, d.acd
FROM merged m JOIN direct d ON m.prio = d.prio
"""


Q44_SQL = """
WITH cust AS (
  SELECT c_custkey,
         list_filter(string_split(c_mktsegment, \'I\'), w -> w != \'\') AS seg_words
  FROM customer WHERE c_custkey < 50
), exploded AS (
  SELECT c_custkey, seg_words,
         UNNEST(seg_words) AS word,
         UNNEST(range(0, len(seg_words))) AS off
  FROM cust
)
SELECT
  c_custkey, word, CAST(off AS BIGINT) AS off,
  sign(c_custkey / 7.0) * floor(abs(c_custkey / 7.0)) AS bucket7,
  CAST(len(list_filter([0, 10, 20, 30, 40], e -> e <= c_custkey)) AS BIGINT) AS rb,
  \'shop.example.com\' AS host,
  CAST(list_transform(string_split(word, \'\'), c -> ascii(c))[1] AS BIGINT) AS first_cp,
  CAST(instr(word, \'A\') AS BIGINT) AS a_pos
FROM exploded
"""


EXTENDED_QUERIES: dict[str, tuple] = {
    "q19_nested_params": (q19_nested_params, Q19_SQL),
    "q20_script_except": (q20_script_except, Q20_SQL),
    "q21_latest_partition": (q21_latest_partition, Q21_SQL),
    "q22_join_first_event": (q22_join_first_event, Q22_SQL),
    "q23_timespan_window": (q23_timespan_window, Q23_SQL),
    "q24_having": (q24_having, Q24_SQL),
    "q25_correlated_subquery": (q25_correlated_subquery, Q25_SQL),
    "q26_exists": (q26_exists, Q26_SQL),
    "q27_percentiles": (q27_percentiles, Q27_SQL),
    "q28_corr_stats": (q28_corr_stats, Q28_SQL),
    "q29_topk_per_group": (q29_topk_per_group, Q29_SQL),
    "q30_set_ops": (q30_set_ops, Q30_SQL),
    "q31_rollup": (q31_rollup, Q31_SQL),
    "q32_pivot_monthly": (q32_pivot_monthly, Q32_SQL),
    "q33_script_udf_view": (q33_script_udf_view, Q33_SQL),
    "q34_bq_functions": (q34_bq_functions, Q34_SQL),
    "q35_bq_functions2": (q35_bq_functions2, Q35_SQL),
    "q44_bq_functions3": (q44_bq_functions3, Q44_SQL),
    "q49_bq_functions4": (q49_bq_functions4, Q49_SQL),
    "q55_bq_functions5": (q55_bq_functions5, Q55_SQL),
    "q56_bq_functions6": (q56_bq_functions6, Q56_SQL),
    "q57_kll_quantiles": (q57_kll_quantiles, Q57_SQL),
    "q57_kll_approx": (q57_kll_approx, Q57_APPROX_SQL),
    "q58_scripting": (q58_scripting, Q58_SQL),
    "q59_vector_search": (q59_vector_search, Q59_SQL),
    "q60_grouping_sets": (q60_grouping_sets, Q60_SQL),
    "q61_bq_functions7": (q61_bq_functions7, Q61_SQL),
    "q62_information_schema": (q62_information_schema, Q62_SQL),
    "q63_search": (q63_search, Q63_SQL),
    "q64_bq_functions8": (q64_bq_functions8, Q64_SQL),
    "q65_gap_fill": (q65_gap_fill, Q65_SQL),
    "q66_with_recursive": (q66_with_recursive, Q66_SQL),
    "q67_pipe_syntax": (q67_pipe_syntax, Q67_SQL),
    "q68_ml_preprocessing": (q68_ml_preprocessing, Q68_SQL),
    "q69_pipe_composite": (q69_pipe_composite, Q69_SQL),
    "q70_bq_functions9": (q70_bq_functions9, Q70_SQL),
    "q71_export_roundtrip": (q71_export_roundtrip, Q71_SQL),
    "q72_range_functions": (q72_range_functions, Q72_SQL),
    "q73_range_sessionize": (q73_range_sessionize, Q73_SQL),
    "q74_snapshot_clone": (q74_snapshot_clone, Q74_SQL),
    "q75_aead_encryption": (q75_aead_encryption, Q75_SQL),
    "q76_geography": (q76_geography, Q76_SQL),
    "q77_ml_preprocessing2": (q77_ml_preprocessing2, Q77_SQL),
    "q78_materialized_view": (q78_materialized_view, Q78_SQL),
    "q79_bq_functions10": (q79_bq_functions10, Q79_SQL),
    "q80_hparam_tuning": (q80_hparam_tuning, Q80_SQL),
    "q81_external_table": (q81_external_table, Q81_SQL),
    "q82_transactions": (q82_transactions, Q82_SQL),
    "q83_vector_index_search": (q83_vector_index_search, Q83_SQL),
    "q84_search_index": (q84_search_index, Q84_SQL),
    "q85_vocab_encoders": (q85_vocab_encoders, Q85_SQL),
    "q86_tfidf_encoder": (q86_tfidf_encoder, Q86_SQL),
    "bqml_feature_info": (bqml_feature_info, BQML_FEATURE_INFO_SQL),
    "bqml_generate_embedding": (bqml_generate_embedding, BQML_GEN_EMB_SQL),
    "q50_hll_sketches": (q50_hll_sketches, Q50_SQL),
    "q50_hll_approx": (q50_hll_approx, Q50_APPROX_SQL),
    "q36_qualify": (q36_qualify, Q36_SQL),
    "q37_pivot_unpivot": (q37_pivot_unpivot, Q37_SQL),
    "pipeline_sql_e2e": (pipeline_sql_e2e, PIPELINE_E2E_SQL),
    # rows-only entries: the cheap multimodal scan goes first — the model
    # fit and the streaming backfill are the slowest entries in the whole
    # registry, and a budget-limited driver sweep should reach everything
    # cheap before it reaches them (round-1 driver run recorded 50 of 51
    # entries, dropping exactly the one scheduled after these two)
    "multimodal_features": (multimodal_features, MULTIMODAL_SQL),
    "ml_train_predict": (ml_train_predict, None),
    "ml_recommend": (ml_recommend, None),
    "streaming_sessionize": (streaming_sessionize, STREAMING_SESSIONIZE_SQL),
    "streaming_interval_join": (streaming_interval_join, STREAMING_IJOIN_SQL),
    "streaming_stateful_dedup": (
        streaming_stateful_dedup,
        STREAMING_SDEDUP_SQL,
    ),
    "streaming_watermark_dedup": (
        streaming_watermark_dedup,
        STREAMING_WMDEDUP_SQL,
    ),
    "streaming_stateful_profile": (
        streaming_stateful_profile,
        STREAMING_SPROF_SQL,
    ),
    "streaming_merge_upsert": (streaming_merge_upsert, STREAMING_UPSERT_SQL),
}


def q87_json_mutators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eleventh function batch — the JSON mutator family (JSON_SET /
    JSON_REMOVE / JSON_ARRAY_APPEND / JSON_ARRAY_INSERT /
    JSON_STRIP_NULLS, functions/json_mutators.py Arrow UDFs). DuckDB's
    json extension has no same-shape twins, so the oracle pins
    BigQuery's documented outputs as literals (the q64 pattern) plus a
    json_merge_patch cross-check where RFC 7386 semantics coincide with
    JSON_SET, and keeps the testdata probe."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT
      JSON_SET(JSON '{"a":1,"b":{"c":2}}', '$.b.d', 5) AS set_nested,
      JSON_SET('{"a":1}', '$.arr[2]', 'x') AS set_pad,
      JSON_SET('{"a":1}', '$.a', [1,2,3], '$.z', 9.5) AS set_multi,
      JSON_REMOVE('{"a":1,"b":{"c":2,"d":3}}', '$.b.c', '$.a') AS rm_multi,
      JSON_REMOVE('[1,2,3]', '$[1]') AS rm_idx,
      JSON_ARRAY_APPEND('{"l":[1,2]}', '$.l', 9) AS app,
      JSON_ARRAY_APPEND('{"l":1}', '$.l', 9) AS app_noop,
      JSON_ARRAY_INSERT('[1,2,3]', '$[1]', 99) AS ins,
      JSON_STRIP_NULLS(
        '{"a":null,"b":{"c":null,"d":1},"e":[1,null,2]}') AS stripped,
      (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False}, WorkerContext(spark)
    )
    w.execute()
    return w.result


Q87_SQL = """
SELECT
  CAST(json_merge_patch('{"a":1,"b":{"c":2}}', '{"b":{"d":5}}') AS VARCHAR)
    AS set_nested,
  '{"a":1,"arr":[null,null,"x"]}' AS set_pad,
  '{"a":[1,2,3],"z":9.5}' AS set_multi,
  CAST(json_merge_patch('{"a":1,"b":{"c":2,"d":3}}',
                        '{"b":{"c":null},"a":null}') AS VARCHAR) AS rm_multi,
  '[1,3]' AS rm_idx,
  '{"l":[1,2,9]}' AS app,
  '{"l":1}' AS app_noop,
  '[1,99,2,3]' AS ins,
  '{"b":{"d":1},"e":[1,2]}' AS stripped,
  (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
"""

EXTENDED_QUERIES["q87_json_mutators"] = (q87_json_mutators, Q87_SQL)


def q88_bq_functions11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twelfth function batch — GENERATE_DATE_ARRAY, SAFE_NEGATE,
    SPLIT_SUBSTR, MAKE_INTERVAL, ML.BAG_OF_WORDS, COLLATE('und:ci')
    and the TIME function family (TIME_ADD/SUB wrap at 24 h, TIME_DIFF
    whole units, TIME_TRUNC, FORMAT_TIME/PARSE_TIME strftime patterns,
    EXTRACT from TIME literals, TIME(h,m,s) ctor) over the engine's
    HH:mm:ss string encoding. DuckDB lacks same-shape twins for most
    (its TIME is a real type, BigQuery's strftime specifiers differ),
    so the oracle pins documented outputs as literals (q64 pattern)
    with the testdata probe."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT
      CAST(ARRAY_LENGTH(GENERATE_DATE_ARRAY('2024-01-01', '2024-01-10'))
           AS INT64) AS gda_n,
      CAST(GENERATE_DATE_ARRAY(DATE '2024-01-01', DATE '2024-03-01',
           INTERVAL 1 MONTH)[OFFSET(2)] AS STRING) AS gda_m,
      SAFE_NEGATE(9) AS sn,
      SPLIT_SUBSTR('a,b,c,d', ',', 2, 2) AS ss1,
      SPLIT_SUBSTR('a,b,c,d', ',', -2) AS ss2,
      CAST(DATE '2024-01-01' + MAKE_INTERVAL(0, 1, 2) AS STRING) AS mi,
      TO_JSON_STRING(ML.BAG_OF_WORDS('b a b c a b')) AS bow,
      COLLATE('aBc', 'und:ci') = 'ABC' AS coll,
      TIME_ADD(TIME '23:30:00', INTERVAL 45 MINUTE) AS tadd,
      TIME_SUB(TIME '00:15:00', INTERVAL 30 MINUTE) AS tsub,
      TIME_DIFF(TIME '12:00:00', TIME '10:30:00', MINUTE) AS tdiff,
      TIME_TRUNC(TIME '12:34:56', HOUR) AS ttrunc,
      FORMAT_TIME('%H|%M', TIME '09:05:00') AS ftime,
      PARSE_TIME('%H:%M', '18:21') AS ptime,
      CAST(EXTRACT(HOUR FROM TIME '12:34:56') AS INT64) AS eh,
      TIME(14, 5, 9) AS tctor,
      (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False}, WorkerContext(spark)
    )
    w.execute()
    return w.result


Q88_SQL = """
SELECT
  CAST(10 AS BIGINT) AS gda_n,
  '2024-03-01' AS gda_m,
  CAST(-9 AS BIGINT) AS sn,
  'b,c' AS ss1,
  'c,d' AS ss2,
  '2024-02-03' AS mi,
  '[{"term":"a","count":2},{"term":"b","count":3},{"term":"c","count":1}]'
    AS bow,
  TRUE AS coll,
  '00:15:00' AS tadd,
  '23:45:00' AS tsub,
  CAST(date_diff('minute', TIME '10:30:00', TIME '12:00:00') AS BIGINT)
    AS tdiff,
  strftime(date_trunc('hour', TIMESTAMP '1970-01-01 12:34:56'), '%H:%M:%S')
    AS ttrunc,
  strftime(TIMESTAMP '1970-01-01 09:05:00', '%H|%M') AS ftime,
  '18:21:00' AS ptime,
  CAST(EXTRACT(HOUR FROM TIME '12:34:56') AS BIGINT) AS eh,
  '14:05:09' AS tctor,
  (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
"""

EXTENDED_QUERIES["q88_bq_functions11"] = (q88_bq_functions11, Q88_SQL)


def q89_scripting2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second scripting batch end-to-end: CREATE TEMP TABLE
    materialization, a labeled WHILE driven by a procedural CASE
    (BREAK <label> exit), RAISE caught by an EXCEPTION handler with
    @@error.message capture — the BigQuery scripting constructs a
    maintenance script composes. Final state is pure arithmetic over
    customer, so DuckDB certifies the whole control flow by value."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    DECLARE total INT64 DEFAULT 0;
    DECLARE msg STRING DEFAULT '';
    CREATE TEMP TABLE seg89 AS
      SELECT c_custkey AS k, c_acctbal AS bal
      FROM customer WHERE c_custkey <= 100;
    lp: WHILE TRUE DO
      CASE WHEN total >= 3 THEN BREAK lp;
           ELSE SET total = total + 1;
      END CASE;
    END WHILE;
    BEGIN
      RAISE USING MESSAGE = 'threshold breach';
    EXCEPTION WHEN ERROR THEN
      SET msg = @@error.message;
    END;
    SELECT CAST(total AS INT64) AS loops, msg AS err_msg,
           COUNT(*) AS n, ROUND(SUM(bal), 4) AS s
    FROM seg89
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False}, WorkerContext(spark)
    )
    w.execute()
    return w.result


Q89_SQL = """
SELECT CAST(3 AS BIGINT) AS loops, 'threshold breach' AS err_msg,
       COUNT(*) AS n, ROUND(SUM(c_acctbal), 4) AS s
FROM customer WHERE c_custkey <= 100
"""

EXTENDED_QUERIES["q89_scripting2"] = (q89_scripting2, Q89_SQL)


def q90_date_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 date-boundary semantics, oracle-backed (VERDICT r6 #5):
    DATE_DIFF/DATETIME_DIFF count PART BOUNDARIES for WEEK /
    WEEK(<WEEKDAY>) / ISOWEEK / MONTH / QUARTER / YEAR / ISOYEAR,
    EXTRACT(WEEK(<WEEKDAY>)) is the 0-based week-of-year starting on
    the named day, LAST_DAY(d, WEEK(<D>)) closes the containing week,
    and %A/%B/%j/%p strftime names format by value. The DuckDB oracle
    spells the boundary arithmetic explicitly (its datediff counts its
    own partition boundaries, whose week start differs): week index =
    floor((days_since_epoch + 4 - start_dow) / 7) with 0=Sunday and
    the +4 anchoring epoch Thursday."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT o_orderkey,
      CAST(DATE_DIFF(o_orderdate, DATE '1995-06-17', WEEK) AS INT64) AS w_sun,
      CAST(DATE_DIFF(o_orderdate, DATE '1995-06-17', WEEK(MONDAY)) AS INT64) AS w_mon,
      CAST(DATE_DIFF(o_orderdate, DATE '1995-06-17', WEEK(THURSDAY)) AS INT64) AS w_thu,
      CAST(DATE_DIFF(o_orderdate, DATE '1995-06-17', ISOWEEK) AS INT64) AS iw,
      CAST(DATE_DIFF(o_orderdate, DATE '1995-06-17', MONTH) AS INT64) AS mth,
      CAST(DATE_DIFF(o_orderdate, DATE '1995-06-17', QUARTER) AS INT64) AS qtr,
      CAST(DATE_DIFF(o_orderdate, DATE '1995-06-17', YEAR) AS INT64) AS yr,
      CAST(DATE_DIFF(o_orderdate, DATE '1995-06-17', ISOYEAR) AS INT64) AS iyr,
      CAST(DATETIME_DIFF(CAST(o_orderdate AS DATETIME),
           DATETIME '1995-06-17 18:30:00', MONTH) AS INT64) AS dt_mth,
      CAST(EXTRACT(WEEK FROM o_orderdate) AS INT64) AS ew_sun,
      CAST(EXTRACT(WEEK(TUESDAY) FROM o_orderdate) AS INT64) AS ew_tue,
      LAST_DAY(o_orderdate, WEEK) AS ld_w,
      LAST_DAY(o_orderdate, WEEK(WEDNESDAY)) AS ld_wed,
      LAST_DAY(o_orderdate, MONTH) AS ld_m,
      FORMAT_DATE('%A %B %j', o_orderdate) AS fmt_names,
      FORMAT_TIMESTAMP('%p', TIMESTAMP(o_orderdate)) AS ampm
    FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False}, WorkerContext(spark)
    )
    w.execute()
    return w.result


Q90_SQL = """
WITH base AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS dd,
         (DATE '1995-06-17' - DATE '1970-01-01') AS ad,
         ((CAST(date_trunc('year', o_orderdate) AS DATE) - 1)
          - DATE '1970-01-01') AS jd
  FROM orders WHERE o_orderkey <= 200
)
SELECT o_orderkey,
  CAST(FLOOR((dd + 4 - 0) / 7.0) - FLOOR((ad + 4 - 0) / 7.0) AS BIGINT) AS w_sun,
  CAST(FLOOR((dd + 4 - 1) / 7.0) - FLOOR((ad + 4 - 1) / 7.0) AS BIGINT) AS w_mon,
  CAST(FLOOR((dd + 4 - 4) / 7.0) - FLOOR((ad + 4 - 4) / 7.0) AS BIGINT) AS w_thu,
  CAST(FLOOR((dd + 4 - 1) / 7.0) - FLOOR((ad + 4 - 1) / 7.0) AS BIGINT) AS iw,
  CAST((year(d) * 12 + month(d)) - (1995 * 12 + 6) AS BIGINT) AS mth,
  CAST((year(d) * 4 + quarter(d)) - (1995 * 4 + 2) AS BIGINT) AS qtr,
  CAST(year(d) - 1995 AS BIGINT) AS yr,
  CAST(isoyear(d) - isoyear(DATE '1995-06-17') AS BIGINT) AS iyr,
  CAST((year(d) * 12 + month(d)) - (1995 * 12 + 6) AS BIGINT) AS dt_mth,
  CAST(FLOOR((dd + 4) / 7.0) - FLOOR((jd + 4) / 7.0) AS BIGINT) AS ew_sun,
  CAST(FLOOR((dd + 4 - 2) / 7.0) - FLOOR((jd + 4 - 2) / 7.0) AS BIGINT) AS ew_tue,
  DATE '1970-01-01' + CAST(7 * FLOOR((dd + 4 - 0) / 7.0) + 0 + 2 AS INTEGER) AS ld_w,
  DATE '1970-01-01' + CAST(7 * FLOOR((dd + 4 - 3) / 7.0) + 3 + 2 AS INTEGER) AS ld_wed,
  last_day(d) AS ld_m,
  strftime(d, '%A %B %j') AS fmt_names,
  strftime(CAST(d AS TIMESTAMP), '%p') AS ampm
FROM base ORDER BY o_orderkey
"""

EXTENDED_QUERIES["q90_date_boundaries"] = (q90_date_boundaries, Q90_SQL)


def ml_recommend_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-artifact twin of ``ml_recommend`` (VERDICT r6 #7):
    ALS factor VALUES are not SQL-reproducible, but the recommendation
    KEY STRUCTURE is — the fitted indexer vocabularies and the
    user-slice x item-vocabulary cross ML.RECOMMEND must emit. The
    oracle replays that cross in DuckDB (every slice user present in
    training x every distinct item), certifying vocabulary coverage,
    cross cardinality, and output schema by hash; predicted_rating
    quality/determinism stays pytest-certified (test_sql_ml)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    CREATE OR REPLACE MODEL `p.d.ev_recsys_art`
    OPTIONS(MODEL_TYPE='MATRIX_FACTORIZATION', USER_COL='user_id',
            ITEM_COL='event_type', RATING_COL='rating',
            NUM_FACTORS=4, MAX_ITERATIONS=8, L2_REG=0.1) AS
      SELECT user_id, event_type,
             CAST(COUNT(*) AS FLOAT64) AS rating
      FROM events GROUP BY user_id, event_type;
    SELECT CAST(user_id AS INT64) AS user_id, event_type,
           (SELECT COUNT(DISTINCT event_type) FROM events) AS n_items,
           CAST(predicted_rating IS NOT NULL AS INT64) AS has_score
    FROM ML.RECOMMEND(MODEL `p.d.ev_recsys_art`,
      (SELECT DISTINCT user_id FROM events WHERE user_id <= 20))
    ORDER BY user_id, event_type
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False}, WorkerContext(spark)
    )
    w.execute()
    return w.result


ML_RECOMMEND_ARTIFACTS_SQL = """
WITH u AS (
  SELECT DISTINCT user_id FROM events WHERE user_id <= 20
), i AS (
  SELECT DISTINCT event_type FROM events
)
SELECT CAST(u.user_id AS BIGINT) AS user_id, i.event_type,
       (SELECT COUNT(DISTINCT event_type) FROM events) AS n_items,
       CAST(1 AS BIGINT) AS has_score
FROM u CROSS JOIN i
ORDER BY user_id, event_type
"""

EXTENDED_QUERIES["ml_recommend_artifacts"] = (
    ml_recommend_artifacts,
    ML_RECOMMEND_ARTIFACTS_SQL,
)


def q91_bq_functions13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thirteenth function batch — INITCAP with BigQuery's DEFAULT
    delimiter set (dash/underscore/brackets capitalize the next letter;
    Spark's whitespace-only initcap would diverge, so the dialect folds
    chars JVM-side) + the custom-delimiter form, REGEXP_INSTR (2-arg
    passthrough and the 3-arg position form — Spark's third arg is a
    GROUP index, so position rewrites structurally; occurrence args
    raise), and the natively-shared scalar tail (SOUNDEX, TRANSLATE,
    OCTET_LENGTH/CHAR_LENGTH, CBRT/COT/SEC/CSC, REPEAT) certified by
    value. DuckDB twins are real where they exist (translate,
    octet_length over encode(), length, cbrt, cot, 1/cos, 1/sin,
    repeat); soundex/initcap/regexp_instr pin documented outputs as
    literals (q64/q88 pattern)."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT
      SOUNDEX('Ashcraft') AS snd,
      TRANSLATE('abcde', 'ce', 'XY') AS tr,
      INITCAP('hello-world foo_bar') AS ic,
      INITCAP('hApPy 2b or.not') AS ic2,
      INITCAP('a,b;c', ',') AS ic3,
      CAST(OCTET_LENGTH('héllo') AS INT64) AS ol,
      CAST(CHAR_LENGTH('héllo') AS INT64) AS cl,
      ROUND(CBRT(27.0), 6) AS cb,
      ROUND(COT(1.0), 6) AS ct,
      ROUND(SEC(1.0), 6) AS sc_v,
      ROUND(CSC(1.0), 6) AS cs_v,
      REPEAT('ab', 3) AS rp,
      CAST(REGEXP_INSTR('ab@cd-ef', '@[^-]*') AS INT64) AS ri,
      CAST(REGEXP_INSTR('ab@cd-ef@gh', '@[^-@]*', 4) AS INT64) AS ri3,
      CAST(REGEXP_INSTR('abc', 'zz', 1) AS INT64) AS ri0,
      (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False}, WorkerContext(spark)
    )
    w.execute()
    return w.result


Q91_SQL = """
SELECT
  'A261' AS snd,
  translate('abcde', 'ce', 'XY') AS tr,
  'Hello-World Foo_Bar' AS ic,
  'Happy 2b Or.Not' AS ic2,
  'A,B;c' AS ic3,
  octet_length(encode('héllo')) AS ol,
  length('héllo') AS cl,
  ROUND(cbrt(27.0), 6) AS cb,
  ROUND(cot(1.0), 6) AS ct,
  ROUND(1.0 / cos(1.0), 6) AS sc_v,
  ROUND(1.0 / sin(1.0), 6) AS cs_v,
  repeat('ab', 3) AS rp,
  CAST(3 AS BIGINT) AS ri,
  CAST(9 AS BIGINT) AS ri3,
  CAST(0 AS BIGINT) AS ri0,
  (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 50) AS src_n
"""

EXTENDED_QUERIES["q91_bq_functions13"] = (q91_bq_functions13, Q91_SQL)


def q92_search_analyzers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEARCH analyzer argument + TEXT_ANALYZE (round 9): the named
    ``analyzer => 'LOG_ANALYZER'`` form matches the 2-arg default;
    ``NO_OP_ANALYZER`` does not tokenize — the whole value must equal
    the query exactly (BigQuery's search-analyzer docs). TEXT_ANALYZE
    exposes the analyzer's token array directly (LOG default; NO_OP =
    the value as one token). All JVM HOFs/equality — map-only at any
    scale; the DuckDB oracle replays the tokenization verbatim."""
    from .workers.base import WorkerContext
    from .workers.sql_executor import SparkSQLExecutor

    register_testdata(spark, sf_dir)
    script = """
    SELECT
      COUNT(*) AS n_docs,
      COUNTIF(SEARCH(text, 'spark merge', analyzer => 'LOG_ANALYZER'))
        AS log_hits,
      COUNTIF(SEARCH(lang, lang, analyzer => 'NO_OP_ANALYZER'))
        AS noop_self,
      COUNTIF(SEARCH(UPPER(lang), lang, analyzer => 'NO_OP_ANALYZER'))
        AS noop_case,
      CAST(SUM(ARRAY_LENGTH(TEXT_ANALYZE(text))) AS INT64) AS total_toks,
      COUNTIF(ARRAY_LENGTH(
        TEXT_ANALYZE(source, analyzer => 'NO_OP_ANALYZER')) = 1)
        AS noop_single
    FROM documents
    """
    w = SparkSQLExecutor(
        {"script": script, "dry_run": False}, WorkerContext(spark)
    )
    w.execute()
    return w.result


def _q92_oracle() -> str:
    from .dialect import LOG_ANALYZER_DELIMS

    def tok(e: str) -> str:
        # a function, not a str.format template — the delimiter class
        # contains literal {} braces (round 10)
        return (
            "list_filter(string_split_regex(lower(" + e + "),"
            " '" + LOG_ANALYZER_DELIMS + "'),"
            " x -> x != '')"
        )

    search_log = (
        "list_aggregate(list_transform("
        + tok("'spark merge'")
        + ", __sq_tok -> coalesce(list_contains("
        + tok("text")
        + ", __sq_tok), FALSE)), 'bool_and')"
    )
    return f"""
SELECT COUNT(*) AS n_docs,
  COUNT(*) FILTER (WHERE {search_log}) AS log_hits,
  COUNT(*) FILTER (WHERE lang = lang) AS noop_self,
  COUNT(*) FILTER (WHERE upper(lang) = lang) AS noop_case,
  CAST(SUM(len({tok('text')})) AS BIGINT) AS total_toks,
  COUNT(*) FILTER (WHERE source IS NOT NULL) AS noop_single
FROM documents
"""


Q92_SQL = _q92_oracle()

EXTENDED_QUERIES["q92_search_analyzers"] = (q92_search_analyzers, Q92_SQL)
