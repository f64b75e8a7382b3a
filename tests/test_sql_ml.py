"""BQML-in-SQL interception tests: the model_bqml.sql statement shapes
running end-to-end through SparkSQLExecutor."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crmint_spark.catalog import Catalog  # noqa: E402
from crmint_spark.workers import find_worker  # noqa: E402
from crmint_spark.workers.base import WorkerContext  # noqa: E402


@pytest.fixture()
def ctx(spark, tmp_path):
    c = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))
    import random

    random.seed(11)
    rows = []
    for i in range(300):
        x1, x2 = random.random(), random.random()
        rows.append((i, float(x1), float(x2), 1 if x1 + x2 > 1 else 0, x1 * 3 + x2))
    df = spark.createDataFrame(
        rows, "uid long, x1 double, x2 double, label int, target double"
    )
    df.createOrReplaceTempView("training_data")
    return c


def _run(ctx, script):
    w = find_worker("BQScriptExecutor")({"script": script, "dry_run": False}, ctx)
    w.execute()
    return w


def test_create_model_and_predict(ctx):
    w = _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.clf`
        OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
                MAX_ITERATIONS=25) AS (
          SELECT x1, x2, label FROM training_data
        );
        SELECT uid, probability, predicted_label
        FROM ML.PREDICT(MODEL `p.d.clf`, (SELECT uid, x1, x2, label FROM training_data))
        """,
    )
    rows = w.result.collect()
    assert len(rows) == 300
    assert {r.predicted_label for r in rows} <= {0.0, 1.0}
    assert all(0.0 <= r.probability <= 1.0 for r in rows)
    assert "CREATE MODEL handled by Spark ML" in w.log


def test_hyperparameter_tuning_and_trial_info(ctx):
    script = """
    CREATE OR REPLACE MODEL `p.d.tuned`
    OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
            NUM_TRIALS=3, MAX_ITERATIONS=10,
            L2_REG=HPARAM_CANDIDATES([0.01, 0.5, 5.0])) AS (
      SELECT x1, x2, label FROM training_data
    );
    SELECT * FROM ML.TRIAL_INFO(MODEL `p.d.tuned`) ORDER BY trial_id
    """
    rows = _run(ctx, script).result.collect()
    assert [r.trial_id for r in rows] == [1, 2, 3]
    assert [r.hyperparameters for r in rows] == [
        '{"l2_reg": 0.01}', '{"l2_reg": 0.5}', '{"l2_reg": 5.0}'
    ]
    assert all(r.status == "SUCCEEDED" for r in rows)
    assert all(r.objective == "accuracy" for r in rows)
    assert all(0.0 <= r.objective_value <= 1.0 for r in rows)
    # exactly one optimal trial, and it carries the best accuracy
    optima = [r for r in rows if r.is_optimal]
    assert len(optima) == 1
    assert optima[0].objective_value == max(r.objective_value for r in rows)
    # determinism: re-training reproduces the identical trial table
    rows2 = _run(ctx, script).result.collect()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows]
    # the persisted model is usable (the best trial's fit)
    pred = _run(
        ctx,
        "SELECT predicted_label FROM ML.PREDICT(MODEL `p.d.tuned`,"
        " (SELECT x1, x2, label FROM training_data)) LIMIT 5",
    ).result.collect()
    assert len(pred) == 5
    # HPARAM_RANGE builds a log-spaced grid; untuned models error
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.tuned_rng`
        OPTIONS(MODEL_TYPE='LINEAR_REG', INPUT_LABEL_COLS=['target'],
                NUM_TRIALS=3, MAX_ITERATIONS=5,
                L2_REG=HPARAM_RANGE(0.01, 1.0)) AS (
          SELECT x1, x2, target FROM training_data
        )
        """,
    )
    rng = _run(
        ctx,
        "SELECT hyperparameters, objective FROM"
        " ML.TRIAL_INFO(MODEL `p.d.tuned_rng`) ORDER BY trial_id",
    ).result.collect()
    assert [r.hyperparameters for r in rng] == [
        '{"l2_reg": 0.01}', '{"l2_reg": 0.1}', '{"l2_reg": 1.0}'
    ]
    assert all(r.objective == "rmse" for r in rng)
    with pytest.raises(ValueError, match="not hyperparameter-tuned"):
        _run(
            ctx,
            """
            CREATE OR REPLACE MODEL `p.d.plain`
            OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label']) AS (
              SELECT x1, x2, label FROM training_data
            );
            SELECT * FROM ML.TRIAL_INFO(MODEL `p.d.plain`)
            """,
        )


def test_ml_evaluate_classification(ctx):
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.clf2`
        OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label']) AS (
          SELECT x1, x2, label FROM training_data
        )
        """,
    )
    w = _run(
        ctx,
        "SELECT * FROM ML.EVALUATE(MODEL `p.d.clf2`, "
        "(SELECT x1, x2, label FROM training_data))",
    )
    row = w.result.first()
    assert row.roc_auc > 0.9
    assert row.accuracy > 0.8


def test_ml_regression_model(ctx):
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.reg`
        OPTIONS(MODEL_TYPE='LINEAR_REG', INPUT_LABEL_COLS=['target']) AS (
          SELECT x1, x2, target FROM training_data
        )
        """,
    )
    w = _run(
        ctx,
        "SELECT * FROM ML.EVALUATE(MODEL `p.d.reg`, "
        "(SELECT x1, x2, target FROM training_data))",
    )
    row = w.result.first()
    assert row.rmse < 0.2
    assert row.r2 > 0.95
    w2 = _run(
        ctx,
        "SELECT uid, predicted_value FROM ML.PREDICT(MODEL `p.d.reg`, "
        "(SELECT uid, x1, x2 FROM training_data)) WHERE uid < 10",
    )
    assert w2.result.count() == 10


def test_ml_dnn_regressor_model(ctx):
    """DNN_REGRESSOR is a real MLP (ml/mlp.py): distributed-gradient
    training, JSON persistence, codegen'd-expression scoring — through
    the same CREATE MODEL / ML.EVALUATE / ML.PREDICT surface."""
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.dnn`
        OPTIONS(MODEL_TYPE='DNN_REGRESSOR', INPUT_LABEL_COLS=['target'],
                HIDDEN_UNITS=[8], MAX_ITERATIONS=60, LEARN_RATE=0.1) AS (
          SELECT x1, x2, target FROM training_data
        )
        """,
    )
    w = _run(
        ctx,
        "SELECT * FROM ML.EVALUATE(MODEL `p.d.dnn`, "
        "(SELECT x1, x2, target FROM training_data))",
    )
    row = w.result.first()
    # target = 3*x1 + x2 (linear): the MLP must fit it closely
    assert row.r2 > 0.9, row
    w2 = _run(
        ctx,
        "SELECT uid, predicted_value FROM ML.PREDICT(MODEL `p.d.dnn`, "
        "(SELECT uid, x1, x2 FROM training_data)) WHERE uid < 10",
    )
    assert w2.result.count() == 10


def test_ml_weights_and_global_explain(ctx):
    """ML.WEIGHTS exposes the linear coefficient table (+__INTERCEPT__);
    ML.GLOBAL_EXPLAIN ranks |attribution| descending. On target =
    3*x1 + x2 the x1 weight must dominate and approximate 3."""
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.wexp`
        OPTIONS(MODEL_TYPE='LINEAR_REG', INPUT_LABEL_COLS=['target'],
                MAX_ITERATIONS=30, EARLY_STOP=FALSE) AS (
          SELECT x1, x2, target FROM training_data
        )
        """,
    )
    w = _run(ctx, "SELECT * FROM ML.WEIGHTS(MODEL `p.d.wexp`)")
    rows = {r.processed_input: r.weight for r in w.result.collect()}
    assert set(rows) == {"x1", "x2", "__INTERCEPT__"}
    assert abs(rows["x1"] - 3.0) < 0.2 and abs(rows["x2"] - 1.0) < 0.2, rows
    g = _run(ctx, "SELECT * FROM ML.GLOBAL_EXPLAIN(MODEL `p.d.wexp`)")
    feats = [r.feature for r in g.result.collect()]
    assert feats == ["x1", "x2"]  # attribution-descending
    # tree model path: featureImportances
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.rfexp`
        OPTIONS(MODEL_TYPE='RANDOM_FOREST_REGRESSOR',
                INPUT_LABEL_COLS=['target']) AS (
          SELECT x1, x2, target FROM training_data
        )
        """,
    )
    g2 = _run(ctx, "SELECT * FROM ML.GLOBAL_EXPLAIN(MODEL `p.d.rfexp`)")
    rows2 = {r.feature: r.attribution for r in g2.result.collect()}
    assert set(rows2) == {"x1", "x2"} and rows2["x1"] > rows2["x2"]
    with pytest.raises(Exception, match="linear model"):
        _run(ctx, "SELECT * FROM ML.WEIGHTS(MODEL `p.d.rfexp`)")


def test_dry_run_queryless_ml_functions(ctx):
    """Dry-running a script with ML.WEIGHTS/GLOBAL_EXPLAIN/FORECAST must
    validate without a fitted model: the query-less calls substitute
    typed empty relations so the surrounding statement still plans."""
    w = find_worker("BQScriptExecutor")(
        {
            "script": """
            SELECT w.processed_input, g.attribution
            FROM ML.WEIGHTS(MODEL `p.d.never`) w
            JOIN ML.GLOBAL_EXPLAIN(MODEL `p.d.never`) g
              ON w.processed_input = g.feature;
            SELECT series_id, forecast_value
            FROM ML.FORECAST(MODEL `p.d.never`, STRUCT(5 AS horizon))
            """,
            "dry_run": True,
        },
        ctx,
    )
    w.execute()  # must not raise


def test_bqml_early_stop_defaults():
    """BQML's iterative defaults (early_stop=TRUE, min_rel_progress=
    0.01) map onto Spark's tol; EARLY_STOP='FALSE' keeps Spark's own
    default and MIN_REL_PROGRESS overrides the 0.01."""
    from crmint_spark.ml.estimators import build_pipeline

    lr = build_pipeline("LOGISTIC_REG", ["x1"], "label", {}).getStages()[-1]
    assert lr.getTol() == 0.01
    lr2 = build_pipeline(
        "LOGISTIC_REG", ["x1"], "label", {"EARLY_STOP": "FALSE"}
    ).getStages()[-1]
    assert lr2.getTol() == 1e-6  # Spark default, no early stop
    lr3 = build_pipeline(
        "LOGISTIC_REG", ["x1"], "label", {"MIN_REL_PROGRESS": 0.05}
    ).getStages()[-1]
    assert lr3.getTol() == 0.05


def test_ml_evaluate_no_input_under_500_rows(ctx):
    """No-input ML.EVALUATE evaluates on the persisted training source;
    with under 500 rows AUTO_SPLIT reserves nothing, so (as in BigQuery)
    evaluation covers the entire training input."""
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.ev_guard`
        OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
                MAX_ITERATIONS=5) AS (
          SELECT x1, x2, label FROM training_data
        )
        """,
    )
    w = _run(ctx, "SELECT * FROM ML.EVALUATE(MODEL `p.d.ev_guard`)")
    row = w.result.first()
    assert 0.5 <= row["roc_auc"] <= 1.0
    assert 0.0 <= row["accuracy"] <= 1.0


def test_ml_evaluate_no_input_holdout_split(ctx, spark):
    """600-row source: AUTO_SPLIT holds out 20% by a deterministic
    whole-row hash; the model fits on the remaining 80% and no-input
    ML.EVALUATE scores exactly the reserved rows. The persisted split
    predicate partitions the source cleanly and both halves are
    non-trivial."""
    import json

    spark.sql(
        "SELECT CAST(id AS DOUBLE) / 600 AS x1, "
        "CAST(id % 7 AS DOUBLE) AS x2, "
        "CAST(id % 2 AS INT) AS label FROM range(600)"
    ).createOrReplaceTempView("training_600")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.ev_hold`
        OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
                MAX_ITERATIONS=5) AS (
          SELECT x1, x2, label FROM training_600
        )
        """,
    )
    reg = _run(ctx, "SELECT 1")._model_registry()
    meta = reg.load_meta("p.d.ev_hold")
    split = meta["data_split"]
    assert split["eval_pct"] == 20 and "xxhash64" in split["holdout_predicate"]
    src = spark.sql(meta["source_sql"])
    n_hold = src.filter(split["holdout_predicate"]).count()
    assert 0 < n_hold < 600 and abs(n_hold - 120) < 60
    w = _run(ctx, "SELECT * FROM ML.EVALUATE(MODEL `p.d.ev_hold`)")
    row = w.result.first()
    assert 0.0 <= row["accuracy"] <= 1.0


def test_ml_evaluate_no_input_vanished_source_errors(ctx, spark):
    """If the persisted training source can no longer be read, the
    no-input form still fails with a descriptive error, not an opaque
    analysis failure."""
    spark.sql(
        "SELECT CAST(id AS DOUBLE) AS x1, CAST(id % 2 AS INT) AS label "
        "FROM range(100)"
    ).createOrReplaceTempView("vanishing_view")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.ev_gone`
        OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
                MAX_ITERATIONS=5) AS (
          SELECT x1, label FROM vanishing_view
        )
        """,
    )
    spark.catalog.dropTempView("vanishing_view")
    with pytest.raises(Exception, match="no longer available"):
        _run(ctx, "SELECT * FROM ML.EVALUATE(MODEL `p.d.ev_gone`)")


def test_ml_table_call_empty_args_passthrough():
    """Malformed ML.PREDICT() with no arguments is left untouched (same
    as the MODEL-regex miss path), not an IndexError."""
    from crmint_spark.ml.sql_ml import rewrite_ml_calls

    stmt = "SELECT * FROM ML.PREDICT()"
    assert rewrite_ml_calls(None, stmt, None) == stmt


def test_ml_call_inside_string_literal_is_text(ctx):
    """An ML table function named inside a string literal is not a
    call: the statement runs as written, no model is looked up."""
    w = _run(ctx, "SELECT 'see ML.WEIGHTS(MODEL nosuch)' AS s")
    assert w.result.first().s == "see ML.WEIGHTS(MODEL nosuch)"


_NEST_MODEL = """
CREATE OR REPLACE MODEL `p.d.nest`
OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
        MAX_ITERATIONS=5) AS (
  SELECT x1, x2, label FROM training_data
);
"""


def test_nested_ml_calls_return_rows(ctx):
    """A call's arguments are rewritten before the call, so ML.PREDICT
    over ML.PREDICT, ML.EVALUATE over ML.TRANSFORM and a call inside
    the WITH clause all run."""
    w = _run(
        ctx,
        _NEST_MODEL
        + """
        SELECT uid, predicted_label FROM ML.PREDICT(MODEL `p.d.nest`,
          (SELECT uid, x1, x2 FROM ML.PREDICT(MODEL `p.d.nest`,
            (SELECT uid, x1, x2 FROM training_data))))
        """,
    )
    assert w.result.count() == 300
    w = _run(
        ctx,
        "SELECT * FROM ML.EVALUATE(MODEL `p.d.nest`, (SELECT * FROM"
        " ML.TRANSFORM(MODEL `p.d.nest`,"
        " (SELECT x1, x2, label FROM training_data))))",
    )
    assert 0.5 < w.result.first().accuracy <= 1.0
    # a call inside the WITH clause; the main query's call reads the CTE
    w = _run(
        ctx,
        "WITH p AS (SELECT * FROM ML.PREDICT(MODEL `p.d.nest`,"
        " (SELECT x1, x2, label FROM training_data)))"
        " SELECT * FROM ML.EVALUATE(MODEL `p.d.nest`,"
        " (SELECT x1, x2, label FROM p))",
    )
    assert 0.5 < w.result.first().accuracy <= 1.0


def test_ml_views_named_apart_across_executors(ctx):
    """Executors sharing one session (parallel pipeline branches) never
    give two ML results the same view name."""
    from crmint_spark.ml.sql_ml import rewrite_ml_calls

    _run(ctx, _NEST_MODEL)
    stmt = "SELECT * FROM ML.WEIGHTS(MODEL `p.d.nest`)"
    views = {
        rewrite_ml_calls(
            ctx.spark,
            stmt,
            find_worker("BQScriptExecutor")(
                {"script": stmt, "dry_run": False}, ctx
            )._model_registry(),
        )
        for _ in range(2)
    }
    assert len(views) == 2


def test_mlp_gradient_one_row_per_partition(spark):
    """The per-iteration gradient pass must yield exactly one param-sized
    row per non-empty partition (O(partitions) driver traffic), even when
    a partition spans multiple Arrow batches."""
    from crmint_spark.ml.mlp import MLPRegressor

    n = 5000
    df = (
        spark.range(n)
        .selectExpr(
            "cast(id % 97 as double) / 97 as x1",
            "cast(id % 31 as double) / 31 as x2",
            "cast(id % 97 as double) / 97 * 3 + cast(id % 31 as double) / 31 as target",
        )
        .repartition(4)
    )
    # force multiple Arrow batches per partition so the per-batch-yield
    # regression would produce >4 rows
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "200")
    try:
        est = MLPRegressor(["x1", "x2"], "target", max_iter=1)
        captured = {}

        # record how many partial rows the gradient pass emits by wrapping
        # mapInPandas on the concrete DataFrame class (classic subclass in
        # Spark 4, so patch type(df), not the abstract base)
        cls = type(df)
        orig_mip = cls.mapInPandas

        def patched(self, fn, schema, **kw):
            out = orig_mip(self, fn, schema, **kw)
            captured["rows"] = max(captured.get("rows", 0), out.count())
            return out

        try:
            cls.mapInPandas = patched
            model = est.fit(df)
        finally:
            cls.mapInPandas = orig_mip
        assert captured["rows"] == 4, captured
        assert model.transform(df).count() == n
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_mlp_null_labels_excluded(spark):
    """Rows with NULL labels are excluded from training (BQML semantics),
    not imputed to 0: poisoning half the rows with NULL labels must not
    drag the fit toward zero."""
    from crmint_spark.ml.mlp import MLPRegressor

    df = spark.range(400).selectExpr(
        "cast(id % 50 as double) / 50 as x1",
        "cast(id % 7 as double) / 7 as x2",
        # every other row: NULL label; clean rows: target = 3*x1 + x2 + 5
        "case when id % 2 = 0 then cast(id % 50 as double) / 50 * 3 "
        "+ cast(id % 7 as double) / 7 + 5 end as target",
    )
    model = MLPRegressor(["x1", "x2"], "target", max_iter=80).fit(df)
    scored = model.transform(df.filter("target is not null"))
    rmse = scored.selectExpr(
        "sqrt(avg(pow(prediction - target, 2))) as rmse"
    ).first()["rmse"]
    # with NULL->0 imputation the model would aim at ~half the mean (~3.3
    # absolute error); trained on clean rows only it fits tightly
    assert rmse < 0.5, rmse


def test_ml_arima_plus_forecast(ctx):
    """ARIMA_PLUS (Holt-smoothing stand-in, ml/forecast.py) through
    CREATE MODEL + ML.FORECAST: a rising linear series must forecast
    a continued rise with positive trend."""
    spark = ctx.spark
    import datetime

    rows = [
        (datetime.datetime(2024, 1, 1 + d), 100.0 + 10.0 * d)
        for d in range(20)
    ]
    spark.createDataFrame(rows, "ts timestamp, y double").createOrReplaceTempView(
        "series_data"
    )
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.fc`
        OPTIONS(MODEL_TYPE='ARIMA_PLUS', TIME_SERIES_TIMESTAMP_COL='ts',
                TIME_SERIES_DATA_COL='y', HORIZON=3) AS (
          SELECT ts, y FROM series_data
        )
        """,
    )
    w = _run(ctx, "SELECT * FROM ML.FORECAST(MODEL `p.d.fc`)")
    rows = w.result.orderBy("step").collect()
    assert len(rows) == 3
    last_y = 100.0 + 10.0 * 19
    # monotone rising forecasts near the true line
    vals = [r["forecast_value"] for r in rows]
    assert vals[0] < vals[1] < vals[2]
    assert abs(vals[0] - (last_y + 10)) < 15
    # forecast timestamps advance by the observed 1-day interval
    assert rows[1]["forecast_ts_us"] - rows[0]["forecast_ts_us"] == 86400000000


def test_ml_arima_evaluate(ctx):
    import datetime

    spark = ctx.spark
    rows = [
        (datetime.datetime(2024, 1, 1 + d), 100.0 + 10.0 * d + (d % 2))
        for d in range(15)
    ]
    spark.createDataFrame(rows, "ts timestamp, y double").createOrReplaceTempView(
        "series_eval"
    )
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.fce`
        OPTIONS(MODEL_TYPE='ARIMA_PLUS', TIME_SERIES_TIMESTAMP_COL='ts',
                TIME_SERIES_DATA_COL='y') AS (SELECT ts, y FROM series_eval)
        """,
    )
    w = _run(
        ctx,
        "SELECT * FROM ML.EVALUATE(MODEL `p.d.fce`, (SELECT 1))",
    )
    row = w.result.first()
    assert row["n_obs"] == 15 and row["rmse"] > 0


def test_ml_calls_with_nested_closing_parens(ctx):
    """Balanced-paren call scanning: inner queries ending in '))' (e.g.
    ROUND(SUM(x)) AS y) must not be truncated by the ML.* rewrites."""
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.np`
        OPTIONS(MODEL_TYPE='LINEAR_REG', INPUT_LABEL_COLS=['target']) AS (
          SELECT x1, x2, target FROM training_data
        )
        """,
    )
    w = _run(
        ctx,
        "SELECT COUNT(*) AS n FROM ML.PREDICT(MODEL `p.d.np`, "
        "(SELECT uid, ROUND(ABS(x1)) AS x1, ROUND(ABS(x2)) AS x2 "
        "FROM training_data WHERE uid < ROUND(ABS(20))))",
    )
    assert w.result.first()["n"] == 20
    w2 = _run(
        ctx,
        "SELECT * FROM ML.EVALUATE(MODEL `p.d.np`, "
        "(SELECT x1, x2, ROUND(target, ABS(2)) AS target "
        "FROM training_data))",
    )
    assert w2.result.first()["rmse"] is not None


def test_holt_winters_seasonal_beats_linear_fit(ctx):
    """VERDICT r4 #4: a daily series with a strong weekly cycle fits
    with visibly lower one-step RMSE under the Holt-Winters seasonal
    fold (period 7) than under the plain Holt linear fit, and the
    forecasts reproduce the cycle."""
    import datetime
    import math

    from crmint_spark.ml.forecast import (
        fit_holt_state,
        forecast_frame,
        infer_seasonal_period,
    )

    spark = ctx.spark
    season = [40.0, -10.0, -20.0, -15.0, -5.0, 25.0, -15.0]  # sums to 0
    rows = [
        (
            datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d),
            200.0 + 2.0 * d + season[d % 7],
        )
        for d in range(42)  # six full weeks
    ]
    df = spark.createDataFrame(rows, "ts timestamp, y double")
    # AUTO_FREQUENCY detects the daily grid -> weekly period
    assert infer_seasonal_period(df, "ts", "AUTO_FREQUENCY") == 7
    assert infer_seasonal_period(df, "ts", "DAILY") == 7
    assert infer_seasonal_period(df, "ts", "YEARLY") == 0

    hw = fit_holt_state(df, "ts", "y", None, period=7)[0]
    holt = fit_holt_state(df, "ts", "y", None, period=0)[0]
    rmse_hw = math.sqrt(hw["sse"] / hw["n_resid"])
    rmse_holt = math.sqrt(holt["sse"] / holt["n_resid"])
    assert rmse_hw < 0.5 * rmse_holt, (rmse_hw, rmse_holt)
    assert hw["period"] == 7 and len(hw["seasonal"]) == 7
    assert holt["period"] == 0 and holt["seasonal"] == []

    # forecasts carry the weekly cycle: day-42..48 predictions track the
    # true seasonal values far better than the linear fit could
    fc = {
        r["step"]: r["forecast_value"]
        for r in forecast_frame(spark, [hw], 7).collect()
    }
    for h in range(1, 8):
        truth = 200.0 + 2.0 * (41 + h) + season[(41 + h) % 7]
        assert abs(fc[h] - truth) < 6.0, (h, fc[h], truth)
    # a 60-point amplitude cycle cannot be tracked by a line: the plain
    # fit's residual scale stays ~cycle-sized
    assert rmse_holt > 15.0


def test_ml_data_split_seq_and_custom(ctx, spark):
    """SEQ holds out the last eval-fraction of rows by DATA_SPLIT_COL
    (cutoff resolved to a literal at train time); CUSTOM holds out rows
    where the BOOL split column is true and drops it from features."""
    reg = _run(ctx, "SELECT 1")._model_registry()
    spark.sql(
        "SELECT CAST(id AS DOUBLE) AS uid, CAST(id AS DOUBLE) / 600 AS x1, "
        "CAST(id % 2 AS INT) AS label, id >= 450 AS is_eval FROM range(600)"
    ).createOrReplaceTempView("seq_train")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.seq`
        OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
                DATA_SPLIT_METHOD='SEQ', DATA_SPLIT_COL='uid',
                DATA_SPLIT_EVAL_FRACTION=0.25, MAX_ITERATIONS=5) AS (
          SELECT uid, x1, label FROM seq_train
        )
        """,
    )
    meta = reg.load_meta("p.d.seq")
    assert meta["data_split"]["method"] == "SEQ"
    assert "uid" not in meta["features"]  # split col excluded
    hold = spark.sql(meta["source_sql"]).filter(
        meta["data_split"]["holdout_predicate"]
    )
    n_hold = hold.count()
    assert abs(n_hold - 150) <= 2, n_hold  # last 25% by uid
    assert hold.agg({"uid": "min"}).first()[0] >= 449
    w = _run(ctx, "SELECT * FROM ML.EVALUATE(MODEL `p.d.seq`)")
    assert 0.0 <= w.result.first()["accuracy"] <= 1.0

    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.cust`
        OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
                DATA_SPLIT_METHOD='CUSTOM', DATA_SPLIT_COL='is_eval',
                MAX_ITERATIONS=5) AS (
          SELECT x1, label, is_eval FROM seq_train
        )
        """,
    )
    meta2 = reg.load_meta("p.d.cust")
    assert "is_eval" not in meta2["features"]
    hold2 = spark.sql(meta2["source_sql"]).filter(
        meta2["data_split"]["holdout_predicate"]
    )
    assert hold2.count() == 150
    w2 = _run(ctx, "SELECT * FROM ML.EVALUATE(MODEL `p.d.cust`)")
    assert 0.0 <= w2.result.first()["accuracy"] <= 1.0


def test_ml_generate_embedding_contract(spark, tmp_path):
    """ML.GENERATE_EMBEDDING: BigQuery output contract (result array +
    status), L2-normalized deterministic vectors, content-column
    validation, and dry-run planning."""
    import pytest as _pytest

    from crmint_spark.catalog import Catalog
    from crmint_spark.ml.sql_ml import EMBED_DIM
    from crmint_spark.workers.base import WorkerContext, WorkerException
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))
    script = """
    SELECT * FROM ML.GENERATE_EMBEDDING(MODEL `p.d.embedder`,
      (SELECT 'alpha beta' AS content UNION ALL SELECT 'alpha beta'
       UNION ALL SELECT 'gamma delta'))
    """
    w = SparkSQLExecutor({"script": script, "dry_run": False}, ctx)
    w.execute()
    rows = w.result.collect()
    assert len(rows) == 3
    for r in rows:
        v = r["ml_generate_embedding_result"]
        assert len(v) == EMBED_DIM
        assert abs(sum(x * x for x in v) - 1.0) < 1e-9
        assert r["ml_generate_embedding_status"] == ""
    same = [r for r in rows if r["content"] == "alpha beta"]
    assert same[0]["ml_generate_embedding_result"] == same[1][
        "ml_generate_embedding_result"
    ]
    # dry run plans the inner query without executing
    SparkSQLExecutor({"script": script, "dry_run": True}, ctx).execute()
    # missing content column -> descriptive error
    bad = """
    SELECT * FROM ML.GENERATE_EMBEDDING(MODEL `p.d.embedder`,
      (SELECT 'x' AS body))
    """
    with _pytest.raises((WorkerException, ValueError), match="content"):
        SparkSQLExecutor({"script": bad, "dry_run": False}, ctx).execute()


def test_create_model_transform_clause(spark, tmp_path):
    """CREATE MODEL ... TRANSFORM(list) OPTIONS(...): training fits on
    the transformed columns; ML.PREDICT and ML.EVALUATE replay the
    clause over raw inputs (predict inputs without the label work —
    label pass-through items are dropped); no-input ML.EVALUATE uses
    the persisted transformed source."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers.base import WorkerContext
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))
    spark.createDataFrame(
        [(float(i), float(i % 7), 1 if i % 2 else 0) for i in range(200)],
        "f1 double, f2 double, label int",
    ).createOrReplaceTempView("tf_train")

    def run(script):
        w = SparkSQLExecutor({"script": script, "dry_run": False}, ctx)
        w.execute()
        return w.result

    run(
        "CREATE OR REPLACE MODEL `p.d.tfm`"
        " TRANSFORM(f1 * 2 AS f1x, IF(f2 > 3, 1.0, 0.0) AS f2b, label)"
        " OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],"
        " DATA_SPLIT_METHOD='NO_SPLIT')"
        " AS SELECT f1, f2, label FROM tf_train"
    )
    # prediction input has NO label column — transform must still apply
    pred = run(
        "SELECT * FROM ML.PREDICT(MODEL `p.d.tfm`,"
        " (SELECT f1, f2 FROM tf_train LIMIT 5))"
    )
    rows = pred.collect()
    assert len(rows) == 5
    assert "predicted_label" in pred.columns
    assert "f1x" in pred.columns and "f2b" in pred.columns
    # evaluate with an explicit (raw) input
    ev = run(
        "SELECT * FROM ML.EVALUATE(MODEL `p.d.tfm`,"
        " (SELECT f1, f2, label FROM tf_train))"
    ).collect()
    assert len(ev) == 1
    # no-input evaluate (persisted transformed source, NO_SPLIT ->
    # whole training input)
    ev2 = run("SELECT * FROM ML.EVALUATE(MODEL `p.d.tfm`)").collect()
    assert len(ev2) == 1
    # dry run of the TRANSFORM statement plans its inner query
    w = SparkSQLExecutor(
        {
            "script": (
                "CREATE OR REPLACE MODEL `p.d.tfm2`"
                " TRANSFORM(f1 * 2 AS f1x, label)"
                " OPTIONS(MODEL_TYPE='LOGISTIC_REG') AS"
                " SELECT f1, label FROM tf_train"
            ),
            "dry_run": True,
        },
        ctx,
    )
    w.execute()
    assert any("dry run OK" in line for line in w.log)


def test_matrix_factorization_and_recommend(spark, tmp_path):
    """MATRIX_FACTORIZATION -> Spark ALS: fit reconstructs a planted
    block-structured rating matrix (low RMSE), ML.PREDICT emits
    predicted_<rating_col>, ML.RECOMMEND scores the users-x-items cross
    (restricted to the input's users when given), and reruns are
    deterministic (fixed seed)."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers.base import WorkerContext
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))
    # planted structure: users 0-9 love even items, hate odd ones
    rows = [
        (u, f"it{i}", 5.0 if (u + i) % 2 == 0 else 1.0)
        for u in range(10)
        for i in range(8)
    ]
    spark.createDataFrame(
        rows, "user_id bigint, item string, rating double"
    ).createOrReplaceTempView("mf_train")

    def run(script):
        w = SparkSQLExecutor({"script": script, "dry_run": False}, ctx)
        w.execute()
        return w.result

    run(
        "CREATE OR REPLACE MODEL `p.d.recsys`"
        " OPTIONS(MODEL_TYPE='MATRIX_FACTORIZATION', USER_COL='user_id',"
        " ITEM_COL='item', RATING_COL='rating', NUM_FACTORS=4,"
        " MAX_ITERATIONS=10, L2_REG=0.1)"
        " AS SELECT user_id, item, rating FROM mf_train"
    )
    pred = run(
        "SELECT * FROM ML.PREDICT(MODEL `p.d.recsys`,"
        " (SELECT user_id, item, rating FROM mf_train))"
    )
    assert "predicted_rating" in pred.columns
    rmse = pred.selectExpr(
        "sqrt(avg(pow(rating - predicted_rating, 2))) AS rmse"
    ).first()["rmse"]
    assert rmse < 1.0, f"ALS failed to fit planted structure: rmse={rmse}"
    rec_all = run("SELECT * FROM ML.RECOMMEND(MODEL `p.d.recsys`)")
    assert rec_all.count() == 10 * 8
    rec_two = run(
        "SELECT * FROM ML.RECOMMEND(MODEL `p.d.recsys`,"
        " (SELECT user_id FROM mf_train WHERE user_id < 2))"
    ).collect()
    assert len(rec_two) == 2 * 8
    again = {
        (r["user_id"], r["item"]): round(r["predicted_rating"], 6)
        for r in run(
            "SELECT * FROM ML.RECOMMEND(MODEL `p.d.recsys`,"
            " (SELECT user_id FROM mf_train WHERE user_id < 2))"
        ).collect()
    }
    first = {
        (r["user_id"], r["item"]): round(r["predicted_rating"], 6)
        for r in rec_two
    }
    assert first == again


def test_ml_transform_function(spark, tmp_path):
    """ML.TRANSFORM(MODEL m, (q)) runs the input through the persisted
    TRANSFORM clause; models without one pass input through unchanged."""
    from crmint_spark.catalog import Catalog
    from crmint_spark.workers.base import WorkerContext
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))
    spark.createDataFrame(
        [(float(i), 1 if i % 2 else 0) for i in range(50)],
        "f double, label int",
    ).createOrReplaceTempView("mt_train")

    def run(script):
        w = SparkSQLExecutor({"script": script, "dry_run": False}, ctx)
        w.execute()
        return w.result

    run(
        "CREATE OR REPLACE MODEL `p.d.mt`"
        " TRANSFORM(f * 10 AS f10, label)"
        " OPTIONS(MODEL_TYPE='LOGISTIC_REG',"
        " DATA_SPLIT_METHOD='NO_SPLIT')"
        " AS SELECT f, label FROM mt_train"
    )
    out = run(
        "SELECT * FROM ML.TRANSFORM(MODEL `p.d.mt`,"
        " (SELECT 2.0 AS f, 1 AS label))"
    ).collect()
    assert [(r["f10"], r["label"]) for r in out] == [(20.0, 1)]
    # no TRANSFORM clause -> passthrough
    run(
        "CREATE OR REPLACE MODEL `p.d.mt2`"
        " OPTIONS(MODEL_TYPE='LOGISTIC_REG',"
        " DATA_SPLIT_METHOD='NO_SPLIT')"
        " AS SELECT f, label FROM mt_train"
    )
    out2 = run(
        "SELECT * FROM ML.TRANSFORM(MODEL `p.d.mt2`,"
        " (SELECT 3.5 AS f, 0 AS label))"
    ).collect()
    assert [(r["f"], r["label"]) for r in out2] == [(3.5, 0)]


def test_confusion_matrix_roc_curve_explain_predict(spark, tmp_path):
    """The classifier evaluation family: ML.CONFUSION_MATRIX counts
    match a hand-computed grid at the threshold, ML.ROC_CURVE rows are
    internally consistent (tp+fn and fp+tn constant, recall
    monotonically non-increasing in threshold), and ML.EXPLAIN_PREDICT
    emits top-k coef*value attributions for linear models while
    rejecting tree models with a targeted error."""
    import pytest as _pytest

    from crmint_spark.catalog import Catalog
    from crmint_spark.workers.base import WorkerContext, WorkerException
    from crmint_spark.workers.sql_executor import SparkSQLExecutor

    ctx = WorkerContext(spark=spark, catalog=Catalog(spark, str(tmp_path / "wh")))
    spark.createDataFrame(
        [(float(i), float((i * 7) % 10), 1 if i >= 25 else 0) for i in range(50)],
        "f1 double, f2 double, label int",
    ).createOrReplaceTempView("cm_train")

    def run(script):
        w = SparkSQLExecutor({"script": script, "dry_run": False}, ctx)
        w.execute()
        return w.result

    run(
        "CREATE OR REPLACE MODEL `p.d.cm`"
        " OPTIONS(MODEL_TYPE='LOGISTIC_REG', DATA_SPLIT_METHOD='NO_SPLIT')"
        " AS SELECT f1, f2, label FROM cm_train"
    )
    grid = {
        r["expected_label"]: (r["_0"], r["_1"])
        for r in run(
            "SELECT * FROM ML.CONFUSION_MATRIX(MODEL `p.d.cm`,"
            " (SELECT f1, f2, label FROM cm_train))"
        ).collect()
    }
    assert set(grid) == {"0", "1"}
    assert sum(a + b for a, b in grid.values()) == 50
    # a separable planted boundary: most mass on the diagonal
    assert grid["0"][0] + grid["1"][1] >= 45

    roc = run(
        "SELECT * FROM ML.ROC_CURVE(MODEL `p.d.cm`,"
        " (SELECT f1, f2, label FROM cm_train))"
    ).collect()
    assert len(roc) == 21
    for r in roc:
        assert r["true_positives"] + r["false_negatives"] == 25
        assert r["false_positives"] + r["true_negatives"] == 25
    recalls = [r["recall"] for r in sorted(roc, key=lambda r: r["threshold"])]
    assert all(a >= b for a, b in zip(recalls, recalls[1:]))

    ex = run(
        "SELECT * FROM ML.EXPLAIN_PREDICT(MODEL `p.d.cm`,"
        " (SELECT 30.0 AS f1, 5.0 AS f2),"
        " STRUCT(2 AS top_k_features))"
    ).collect()
    assert len(ex) == 1
    attrs = ex[0]["top_feature_attributions"]
    assert len(attrs) == 2
    assert abs(attrs[0]["attribution"]) >= abs(attrs[1]["attribution"])
    assert {a["feature"] for a in attrs} == {"f1", "f2"}

    run(
        "CREATE OR REPLACE MODEL `p.d.cm_tree`"
        " OPTIONS(MODEL_TYPE='RANDOM_FOREST_CLASSIFIER',"
        " DATA_SPLIT_METHOD='NO_SPLIT')"
        " AS SELECT f1, f2, label FROM cm_train"
    )
    with _pytest.raises((WorkerException, ValueError), match="GLOBAL_EXPLAIN"):
        run(
            "SELECT * FROM ML.EXPLAIN_PREDICT(MODEL `p.d.cm_tree`,"
            " (SELECT 1.0 AS f1, 2.0 AS f2))"
        )


def test_vocab_encoders_in_transform(ctx, spark):
    """ML.LABEL_ENCODER / ONE_HOT / MULTI_HOT inside CREATE MODEL
    TRANSFORM: deterministic frequency-DESC/value-ASC vocabulary fitted
    once, inlined into the persisted clause, replayed identically by
    ML.TRANSFORM and ML.PREDICT (VERDICT r5 #4)."""
    rows = [(i, ["b", "a", "a", "c", "b", "a"][i % 6], float(i % 7)) for i in range(60)]
    spark.createDataFrame(rows, "uid long, cat string, v double") \
        .createOrReplaceTempView("enc_train")
    _run(ctx, """
        CREATE OR REPLACE MODEL `p.d.encm`
        TRANSFORM(
          ML.LABEL_ENCODER(cat, 2, 1) OVER () AS cat_enc,
          ML.ONE_HOT_ENCODER(cat) OVER () AS cat_oh,
          v,
          IF(v > 3, 1, 0) AS label
        )
        OPTIONS(model_type='LOGISTIC_REG', input_label_cols=['label'],
                max_iterations=3, data_split_method='NO_SPLIT')
        AS SELECT cat, v FROM enc_train
        """)
    # encode contract: a (freq 30) -> 1, b (20) -> 2, c (10) -> 0 (top_k=2)
    w = _run(ctx, """
        SELECT cat_enc, cat_oh[OFFSET(0)].index AS oh_idx, COUNT(*) AS n
        FROM ML.TRANSFORM(MODEL `p.d.encm`,
          (SELECT cat, v FROM enc_train))
        GROUP BY cat_enc, oh_idx ORDER BY oh_idx
        """)
    got = {r["oh_idx"]: (r["cat_enc"], r["n"]) for r in w.result.collect()}
    # a (freq 30) -> rank 1, b (20) -> 2, c (10) -> 0 under top_k=2
    assert got == {1: (1, 30), 2: (2, 20), 3: (0, 10)}
    # unseen categories at predict encode to 0 / index 0 and still score
    spark.createDataFrame(
        [(99, "zzz", 1.0), (98, "a", 5.0)], "uid long, cat string, v double"
    ).createOrReplaceTempView("enc_serve")
    w2 = _run(ctx, """
        SELECT cat_enc, predicted_label FROM ML.PREDICT(MODEL `p.d.encm`,
          (SELECT cat, v FROM enc_serve)) ORDER BY cat_enc
        """)
    assert len(w2.result.collect()) == 2
    # ML.TRANSFORM on the unseen row shows the 0 encoding
    w3 = _run(ctx, """
        SELECT cat_enc, cat_oh[OFFSET(0)].index AS oh_idx
        FROM ML.TRANSFORM(MODEL `p.d.encm`,
          (SELECT cat, v FROM enc_serve WHERE cat = 'zzz'))
        """)
    r = w3.result.collect()[0]
    assert (r["cat_enc"], r["oh_idx"]) == (0, 0)


def test_vocab_encoders_rejected_outside_create_model(ctx):
    """Standalone ML.LABEL_ENCODER still raises the targeted error —
    only CREATE MODEL TRANSFORM fits vocabularies."""
    with pytest.raises(Exception, match="frequency-ranked vocabulary"):
        _run(ctx, "SELECT ML.LABEL_ENCODER(c, 3) OVER () FROM t")


def test_one_hot_drop_mode_rejected(ctx, spark):
    spark.createDataFrame([(1, "a")], "uid long, cat string") \
        .createOrReplaceTempView("enc_d")
    with pytest.raises(Exception, match="drop"):
        _run(ctx, """
            CREATE OR REPLACE MODEL `p.d.encd`
            TRANSFORM(ML.ONE_HOT_ENCODER(cat, 'most_frequent') OVER ()
                        AS oh, uid AS label)
            OPTIONS(model_type='LINEAR_REG', input_label_cols=['label'])
            AS SELECT cat, uid FROM enc_d
            """)


def test_holiday_calendar():
    """Algorithmic US federal calendar (5 U.S.C. 6103): floating
    holidays land on the documented weekdays; unsupported regions
    raise with the supported list."""
    from crmint_spark.ml.forecast import holiday_calendar

    cal = holiday_calendar("US", [2024])
    assert len(cal) == 11
    assert "2024-01-15" in cal  # MLK: 3rd Monday of January 2024
    assert "2024-11-28" in cal  # Thanksgiving: 4th Thursday of November
    assert "2024-05-27" in cal  # Memorial Day: last Monday of May
    assert "2024-02-19" in cal  # Washington's Birthday: 3rd Monday Feb
    with pytest.raises(ValueError, match="not supported"):
        holiday_calendar("JP", [2024])


def test_holiday_effect_fit_exact():
    """On a pure linear series with one +500 spike on an interior
    holiday, the interpolation-residual estimator recovers the effect
    exactly (resid = (line+500) - line = 500)."""
    import datetime

    from crmint_spark.ml.forecast import fit_holiday_effects
    from crmint_spark.session import get_spark

    spark = get_spark()
    rows = [
        (
            datetime.datetime(2024, 1, 2 + d),
            100.0 + 10.0 * d + (500.0 if (2 + d) == 15 else 0.0),
        )
        for d in range(30)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, y double")
    eff = fit_holiday_effects(df, "ts", "y", None, ["2024-01-15"])
    assert eff == {"__all__": 500.0}


def test_ml_arima_holiday_region(ctx):
    """HOLIDAY_REGION='US' end-to-end: the Jan-15 spike is absorbed by
    the holiday effect (the de-holidayed fold sees a clean line) and
    added back on the next calendar holiday in the horizon (Feb 19,
    Washington's Birthday) — non-holiday forecast days stay on the
    line."""
    import datetime

    spark = ctx.spark
    # series starts Jan 2 so New Year's Day (boundary) is out of range
    rows = [
        (
            datetime.datetime(2024, 1, 2 + d),
            100.0 + 10.0 * d + (500.0 if (2 + d) == 15 else 0.0),
        )
        for d in range(30)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, y double"
    ).createOrReplaceTempView("hol_series")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.fc_hol`
        OPTIONS(MODEL_TYPE='ARIMA_PLUS', TIME_SERIES_TIMESTAMP_COL='ts',
                TIME_SERIES_DATA_COL='y', HOLIDAY_REGION='US',
                HORIZON=25) AS (SELECT ts, y FROM hol_series)
        """,
    )
    w = _run(ctx, "SELECT * FROM ML.FORECAST(MODEL `p.d.fc_hol`)")
    fc = {r["step"]: r["forecast_value"] for r in w.result.collect()}
    # control: the spike-free line fit WITHOUT holidays — the holiday
    # model's de-holidayed fold sees exactly this series, so its
    # forecasts must equal the control's, +500 only on Feb 19 (step 19)
    clean = [
        (datetime.datetime(2024, 1, 2 + d), 100.0 + 10.0 * d)
        for d in range(30)
    ]
    spark.createDataFrame(
        clean, "ts timestamp, y double"
    ).createOrReplaceTempView("clean_series")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.fc_clean`
        OPTIONS(MODEL_TYPE='ARIMA_PLUS', TIME_SERIES_TIMESTAMP_COL='ts',
                TIME_SERIES_DATA_COL='y', HORIZON=25)
          AS (SELECT ts, y FROM clean_series)
        """,
    )
    w2 = _run(ctx, "SELECT * FROM ML.FORECAST(MODEL `p.d.fc_clean`)")
    ctl = {r["step"]: r["forecast_value"] for r in w2.result.collect()}
    assert abs(fc[19] - (ctl[19] + 500.0)) < 1e-4, (fc[19], ctl[19])
    assert abs(fc[18] - ctl[18]) < 1e-9, (fc[18], ctl[18])
    assert abs(fc[20] - ctl[20]) < 1e-9, (fc[20], ctl[20])


def test_ml_explain_forecast_components_sum_and_holiday(ctx):
    """ML.EXPLAIN_FORECAST (VERDICT r6 #4): forecast-row components sum
    exactly to ML.FORECAST's forecast_value; history residual =
    data - trend - seasonal - holiday_effect; the learned holiday
    effect lands in holiday_effect on its calendar date (history AND a
    horizon crossing one); non-ARIMA models are rejected."""
    import datetime

    spark = ctx.spark
    rows = [
        (
            datetime.datetime(2024, 1, 2 + d),
            100.0 + 10.0 * d + (d % 3) + (500.0 if (2 + d) == 15 else 0.0),
        )
        for d in range(30)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, y double"
    ).createOrReplaceTempView("xf_series")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.xf_hol`
        OPTIONS(MODEL_TYPE='ARIMA_PLUS', TIME_SERIES_TIMESTAMP_COL='ts',
                TIME_SERIES_DATA_COL='y', HOLIDAY_REGION='US')
          AS (SELECT ts, y FROM xf_series)
        """,
    )
    ex = _run(
        ctx,
        "SELECT * FROM ML.EXPLAIN_FORECAST(MODEL `p.d.xf_hol`,"
        " STRUCT(25 AS horizon)) ORDER BY time_series_timestamp_us",
    ).result.collect()
    hist = [r for r in ex if r["time_series_type"] == "history"]
    fcst = [r for r in ex if r["time_series_type"] == "forecast"]
    assert len(hist) == 30 and len(fcst) == 25
    # history residual identity
    for r in hist:
        got = (
            r["time_series_data"]
            - r["trend"]
            - r["seasonal_period_weekly"]
            - r["holiday_effect"]
        )
        assert abs(got - r["residual"]) < 5e-6, r
    # the fitted MLK (Jan 15) history row carries the ~+500 effect
    mlk_us = (
        int(
            datetime.datetime(
                2024, 1, 15, tzinfo=datetime.timezone.utc
            ).timestamp()
        )
        * 1_000_000
    )
    by_us = {r["time_series_timestamp_us"]: r for r in hist}
    assert by_us[mlk_us]["holiday_effect"] > 400.0, by_us[mlk_us]
    assert sum(1 for r in hist if r["holiday_effect"] != 0.0) == 1
    # horizon step 19 = Washington's Birthday (Feb 19, from the Jan 31
    # last observation): effect added on the crossing date only
    fc = _run(
        ctx,
        "SELECT step, forecast_value FROM ML.FORECAST(MODEL `p.d.xf_hol`,"
        " STRUCT(25 AS horizon)) ORDER BY step",
    ).result.collect()
    for r, f in zip(fcst, fc):
        tot = r["trend"] + r["seasonal_period_weekly"] + r["holiday_effect"]
        assert abs(tot - f["forecast_value"]) < 5e-6, (r, f)
    wb = fcst[18]  # step 19
    assert wb["holiday_effect"] > 400.0, wb
    assert fcst[17]["holiday_effect"] == 0.0 == fcst[19]["holiday_effect"]
    # forecast rows: interval bounds bracket the component sum
    assert all(
        r["prediction_interval_lower_bound"]
        <= r["trend"] + r["seasonal_period_weekly"] + r["holiday_effect"] + 1e-6
        and r["trend"] + r["seasonal_period_weekly"] + r["holiday_effect"]
        <= r["prediction_interval_upper_bound"] + 1e-6
        for r in fcst
    )
    # non-ARIMA models are rejected with a pointer
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.xf_lin`
        OPTIONS(MODEL_TYPE='LINEAR_REG', INPUT_LABEL_COLS=['label'])
          AS (SELECT x1, x2, CAST(x1 + x2 AS FLOAT64) AS label
              FROM training_data)
        """,
    )
    with pytest.raises(Exception, match="ARIMA_PLUS"):
        _run(ctx, "SELECT * FROM ML.EXPLAIN_FORECAST(MODEL `p.d.xf_lin`)")


def test_ml_explain_forecast_distributed_replay(ctx, monkeypatch):
    """Series longer than EXPLAIN_HISTORY_MAX now EXPLAIN distributed
    (VERDICT r7 #2) instead of raising: the fit persists the history as
    a parquet table and applyInPandas replays the SAME fold per series.
    Forced-small bound proves bit-identical parity with the driver path
    on one fixture; a genuinely >bound series then explains end-to-end.
    """
    import datetime

    from crmint_spark.ml import forecast as fc

    spark = ctx.spark
    rows = [
        (
            "s%d" % (d % 3),
            datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=d),
            50.0 + 0.5 * d + (d % 7),
        )
        for d in range(180)
    ]
    spark.createDataFrame(
        rows, "sid string, ts timestamp, y double"
    ).createOrReplaceTempView("xf_dist")
    mk = """
    CREATE OR REPLACE MODEL `p.d.xf_{tag}`
    OPTIONS(MODEL_TYPE='ARIMA_PLUS', TIME_SERIES_TIMESTAMP_COL='ts',
            TIME_SERIES_DATA_COL='y', TIME_SERIES_ID_COL='sid')
      AS (SELECT sid, ts, y FROM xf_dist)
    """
    q = (
        "SELECT * FROM ML.EXPLAIN_FORECAST(MODEL `p.d.xf_{tag}`,"
        " STRUCT(5 AS horizon))"
        " ORDER BY series_id, time_series_timestamp_us"
    )
    _run(ctx, mk.format(tag="drv"))
    drv = _run(ctx, q.format(tag="drv")).result.collect()
    # force every series past the embed bound -> history table persists
    # and the replay runs distributed
    monkeypatch.setattr(fc, "EXPLAIN_HISTORY_MAX", 10)
    _run(ctx, mk.format(tag="dst"))
    dst = _run(ctx, q.format(tag="dst")).result.collect()
    assert len(drv) == len(dst) > 0
    for a, b in zip(drv, dst):
        assert tuple(a) == tuple(b), (a, b)  # bit-identical decomposition
    # many-series route: the same history table serves the whole model
    # through applyInPandas when series count exceeds the driver bound
    monkeypatch.setattr(fc, "EXPLAIN_DRIVER_SERIES_MAX", 1)
    dst2 = _run(ctx, q.format(tag="dst")).result.collect()
    for a, b in zip(drv, dst2):
        assert tuple(a) == tuple(b), (a, b)


def test_ml_detect_anomalies_holiday(ctx):
    """The learned holiday effect joins the anomaly expectation: the
    Jan-15 spike the model fit is NOT an anomaly, and its expected
    value carries the +500 add-back."""
    import datetime

    spark = ctx.spark
    # small d%3 wiggle keeps sse nonzero so the z*sigma band is > 0
    rows = [
        (
            datetime.datetime(2024, 1, 2 + d),
            100.0 + 10.0 * d + (d % 3) + (500.0 if (2 + d) == 15 else 0.0),
        )
        for d in range(30)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, y double"
    ).createOrReplaceTempView("hol_series2")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.anom_hol`
        OPTIONS(MODEL_TYPE='ARIMA_PLUS', TIME_SERIES_TIMESTAMP_COL='ts',
                TIME_SERIES_DATA_COL='y', HOLIDAY_REGION='US')
          AS (SELECT ts, y FROM hol_series2)
        """,
    )
    w = _run(
        ctx,
        """
        SELECT * FROM ML.DETECT_ANOMALIES(MODEL `p.d.anom_hol`,
          STRUCT(0.95 AS anomaly_prob_threshold),
          (SELECT ts, y FROM hol_series2))
        """,
    )
    by_ts = {r["ts_us"]: r for r in w.result.collect()}
    jan15 = by_ts[
        int(datetime.datetime(2024, 1, 15, tzinfo=datetime.timezone.utc).timestamp())
        * 1_000_000
    ]
    assert not jan15["is_anomaly"], jan15
    # expectation includes the pooled effect: within the wiggle+band of
    # the actual spiked value, i.e. far above the bare line (~231)
    assert jan15["expected_value"] > 600.0, jan15


def test_ml_kmeans_fit_predict_centroids_evaluate(ctx):
    """Three well-separated blobs: assignments recover the blobs,
    ML.CENTROIDS lands near the true centers (original feature space),
    ML.EVALUATE reports a tight Davies-Bouldin index."""
    spark = ctx.spark
    rows = []
    centers = [(0.0, 0.0), (50.0, 5.0), (100.0, -10.0)]
    for b, (cx, cy) in enumerate(centers):
        for i in range(40):
            rows.append((cx + (i % 7) * 0.5, cy + (i % 5) * 0.4, b))
    spark.createDataFrame(
        rows, "x double, y double, blob int"
    ).createOrReplaceTempView("blobs")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.km_t`
        OPTIONS(MODEL_TYPE='KMEANS', NUM_CLUSTERS=3, MAX_ITERATIONS=5)
          AS (SELECT x, y FROM blobs)
        """,
    )
    w = _run(
        ctx,
        """
        SELECT b.blob, p.centroid_id, COUNT(*) AS n
        FROM ML.PREDICT(MODEL `p.d.km_t`, (SELECT x, y FROM blobs)) p
        JOIN blobs b ON p.x = b.x AND p.y = b.y
        GROUP BY b.blob, p.centroid_id
        """,
    )
    got = w.result.collect()
    # each blob maps to exactly one centroid, and the 3 centroids differ
    by_blob = {}
    for r in got:
        by_blob.setdefault(r["blob"], set()).add(r["centroid_id"])
    assert all(len(v) == 1 for v in by_blob.values()), got
    assert len({next(iter(v)) for v in by_blob.values()}) == 3, got

    cw = _run(ctx, "SELECT * FROM ML.CENTROIDS(MODEL `p.d.km_t`)")
    cents = {
        (r["centroid_id"], r["feature"]): r["numerical_value"]
        for r in cw.result.collect()
    }
    xs = sorted(v for (cid, f), v in cents.items() if f == "x")
    assert abs(xs[0] - 1.5) < 1.0 and abs(xs[2] - 101.5) < 1.0, xs

    ew = _run(ctx, "SELECT * FROM ML.EVALUATE(MODEL `p.d.km_t`)")
    m = ew.result.first()
    assert m["davies_bouldin_index"] < 0.5, m
    assert m["mean_squared_distance"] < 0.1, m


def test_ml_kmeans_rejections(ctx):
    spark = ctx.spark
    spark.createDataFrame(
        [(1.0, "a"), (2.0, "b")], "x double, s string"
    ).createOrReplaceTempView("km_bad")
    with pytest.raises(Exception, match="numeric features"):
        _run(
            ctx,
            """
            CREATE OR REPLACE MODEL `p.d.km_bad`
            OPTIONS(MODEL_TYPE='KMEANS', NUM_CLUSTERS=2)
              AS (SELECT x, s FROM km_bad)
            """,
        )
    with pytest.raises(Exception, match="EUCLIDEAN"):
        _run(
            ctx,
            """
            CREATE OR REPLACE MODEL `p.d.km_bad2`
            OPTIONS(MODEL_TYPE='KMEANS', NUM_CLUSTERS=2,
                    DISTANCE_TYPE='COSINE')
              AS (SELECT x FROM km_bad)
            """,
        )


def test_ml_pca_fit_predict_components(ctx):
    """Anisotropic synthetic data (variance dominated by the x+2y
    direction): component 1 aligns with it, projections decorrelate,
    explained-variance ratios order correctly."""
    spark = ctx.spark
    rows = []
    for i in range(200):
        t = (i - 100) / 10.0          # dominant direction
        s = ((i * 7) % 11 - 5) / 25.0  # small orthogonal wiggle
        rows.append((t * 1.0 + s * 2.0, t * 2.0 - s * 1.0))
    spark.createDataFrame(rows, "x double, y double").createOrReplaceTempView(
        "aniso"
    )
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.pca_t`
        OPTIONS(MODEL_TYPE='PCA', NUM_PRINCIPAL_COMPONENTS=2)
          AS (SELECT x, y FROM aniso)
        """,
    )
    pc = {
        (r["principal_component_id"], r["feature"]): r["numerical_value"]
        for r in _run(
            ctx, "SELECT * FROM ML.PRINCIPAL_COMPONENTS(MODEL `p.d.pca_t`)"
        ).result.collect()
    }
    # component 1 parallel to (1, 2)/sqrt(5): |x| ~ 0.447, |y| ~ 0.894
    assert abs(abs(pc[(1, "x")]) - 0.4472) < 0.01, pc
    assert abs(abs(pc[(1, "y")]) - 0.8944) < 0.01, pc
    info = {
        r["principal_component_id"]: r
        for r in _run(
            ctx,
            "SELECT * FROM ML.PRINCIPAL_COMPONENT_INFO(MODEL `p.d.pca_t`)",
        ).result.collect()
    }
    assert info[1]["explained_variance_ratio"] > 0.99, info
    assert (
        abs(info[2]["cumulative_explained_variance_ratio"] - 1.0) < 1e-3
    ), info
    w = _run(
        ctx,
        """
        SELECT ABS(CORR(principal_component_1, principal_component_2)) AS xcorr,
               ROUND(STDDEV_POP(principal_component_1), 2) AS s1,
               ROUND(STDDEV_POP(principal_component_2), 2) AS s2
        FROM ML.PREDICT(MODEL `p.d.pca_t`, (SELECT x, y FROM aniso))
        """,
    )
    r = w.result.first()
    assert r["xcorr"] < 0.05 and r["s1"] > r["s2"], r
    ev = _run(ctx, "SELECT * FROM ML.EVALUATE(MODEL `p.d.pca_t`)").result.first()
    assert abs(ev["total_explained_variance_ratio"] - 1.0) < 1e-3, ev


def test_ml_pca_rejections(ctx):
    spark = ctx.spark
    spark.createDataFrame([(1.0,), (2.0,)], "x double").createOrReplaceTempView(
        "pca_bad"
    )
    with pytest.raises(Exception, match="NUM_PRINCIPAL_COMPONENTS"):
        _run(
            ctx,
            "CREATE OR REPLACE MODEL `p.d.pca_b1` OPTIONS(MODEL_TYPE='PCA')"
            " AS (SELECT x FROM pca_bad)",
        )
    with pytest.raises(Exception, match="NUM_PRINCIPAL_COMPONENTS"):
        _run(
            ctx,
            "CREATE OR REPLACE MODEL `p.d.pca_b2` OPTIONS(MODEL_TYPE='PCA',"
            " PCA_EXPLAINED_VARIANCE_RATIO=0.9) AS (SELECT x FROM pca_bad)",
        )


def test_ml_autoencoder_latent_evaluate_anomalies(ctx):
    """Linear-AE (PCA subspace) surface: latent columns, reconstruction
    metrics, and contamination anomaly flags — a planted outlier must
    be flagged."""
    spark = ctx.spark
    rows = [((i - 50) / 5.0, (i - 50) / 2.5) for i in range(100)]
    rows.append((30.0, -30.0))  # far off the dominant direction
    spark.createDataFrame(rows, "x double, y double").createOrReplaceTempView(
        "ae_data"
    )
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.ae_t`
        OPTIONS(MODEL_TYPE='AUTOENCODER', HIDDEN_UNITS=[4, 1, 4])
          AS (SELECT x, y FROM ae_data)
        """,
    )
    w = _run(
        ctx,
        "SELECT latent_col_0 FROM ML.PREDICT(MODEL `p.d.ae_t`,"
        " (SELECT x, y FROM ae_data))",
    )
    assert w.result.count() == 101
    ev = _run(ctx, "SELECT * FROM ML.EVALUATE(MODEL `p.d.ae_t`)").result.first()
    assert ev["mean_squared_error"] < 0.15, ev
    an = _run(
        ctx,
        """
        SELECT x, y, is_anomaly
        FROM ML.DETECT_ANOMALIES(MODEL `p.d.ae_t`,
          STRUCT(0.02 AS contamination), (SELECT x, y FROM ae_data))
        WHERE is_anomaly
        """,
    ).result.collect()
    assert len(an) >= 1
    assert any(r["x"] == 30.0 and r["y"] == -30.0 for r in an), an


def test_ml_wide_and_deep_aliases(ctx):
    """DNN_LINEAR_COMBINED_* models train and serve through the MLP
    path (documented divergence in estimators.py)."""
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.wd_c`
        OPTIONS(MODEL_TYPE='DNN_LINEAR_COMBINED_CLASSIFIER',
                INPUT_LABEL_COLS=['label'], MAX_ITERATIONS=20)
          AS (SELECT x1, x2, label FROM training_data)
        """,
    )
    w = _run(
        ctx,
        "SELECT predicted_label FROM ML.PREDICT(MODEL `p.d.wd_c`,"
        " (SELECT x1, x2, label FROM training_data)) LIMIT 5",
    )
    assert w.result.count() == 5


def test_ml_kmeans_distance_anomalies(ctx):
    """KMEANS contamination anomalies: the planted far-away point is
    flagged; flagged fraction respects the contamination bound."""
    spark = ctx.spark
    rows = [(float(i % 10), float((i * 3) % 7)) for i in range(100)]
    spark.createDataFrame(rows, "x double, y double").createOrReplaceTempView(
        "km_clean"
    )
    # outlier only in the DETECTION input — a training outlier would
    # correctly capture its own centroid and score distance ~0
    spark.createDataFrame(
        rows + [(500.0, 500.0)], "x double, y double"
    ).createOrReplaceTempView("km_anom")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.km_an`
        OPTIONS(MODEL_TYPE='KMEANS', NUM_CLUSTERS=3, MAX_ITERATIONS=4)
          AS (SELECT x, y FROM km_clean)
        """,
    )
    rows_all = _run(
        ctx,
        """
        SELECT x, y, is_anomaly, normalized_distance
        FROM ML.DETECT_ANOMALIES(MODEL `p.d.km_an`,
          STRUCT(0.05 AS contamination), (SELECT x, y FROM km_anom))
        """,
    ).result.collect()
    an = [r for r in rows_all if r["is_anomaly"]]
    ok = [r for r in rows_all if not r["is_anomaly"]]
    # >= threshold semantics (ADVICE r6): at least ceil(c*n) flagged,
    # the flagged set is a distance upper set (tie groups flag whole),
    # and most rows stay unflagged on this tied grid
    assert 6 <= len(an) < len(rows_all) / 2, len(an)
    assert any(r["x"] == 500.0 for r in an), an
    assert min(r["normalized_distance"] for r in an) >= max(
        r["normalized_distance"] for r in ok
    )


def test_ml_kmeans_transform_replay(ctx):
    """CREATE MODEL KMEANS with a numeric TRANSFORM clause: the clause
    persists with the model and replays over ML.PREDICT / ML.EVALUATE /
    contamination ML.DETECT_ANOMALIES inputs (review finding: the
    clustering metas used to drop transform_sql)."""
    spark = ctx.spark
    rows = [(float(i % 10), float((i * 3) % 7)) for i in range(60)]
    spark.createDataFrame(rows, "x double, y double").createOrReplaceTempView(
        "km_tf"
    )
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.km_tfm`
        TRANSFORM(x * 2 AS x2, y)
        OPTIONS(MODEL_TYPE='KMEANS', NUM_CLUSTERS=2, MAX_ITERATIONS=3)
          AS (SELECT x, y FROM km_tf)
        """,
    )
    w = _run(
        ctx,
        "SELECT centroid_id, COUNT(*) AS n FROM ML.PREDICT("
        "MODEL `p.d.km_tfm`, (SELECT x, y FROM km_tf)) GROUP BY 1",
    )
    assert sum(r["n"] for r in w.result.collect()) == 60
    ev = _run(
        ctx,
        "SELECT * FROM ML.EVALUATE(MODEL `p.d.km_tfm`,"
        " (SELECT x, y FROM km_tf))",
    ).result.first()
    assert ev["mean_squared_distance"] is not None
    an = _run(
        ctx,
        "SELECT COUNT(*) AS n FROM ML.DETECT_ANOMALIES(MODEL `p.d.km_tfm`,"
        " STRUCT(0.1 AS contamination), (SELECT x, y FROM km_tf))",
    ).result.first()
    assert an["n"] == 60


def test_ml_autoencoder_true_mae(ctx):
    """mean_absolute_error is the mean |per-dim error| (review finding:
    it used to report the mean L2 norm). For a perfect 1-D fit on a
    collinear series both MAE and MSE are ~0; for the planted outlier
    dataset MAE must be <= sqrt(MSE * d) / d strictly (norm inequality
    with distinct per-dim errors)."""
    import math

    spark = ctx.spark
    rows = [((i - 50) / 5.0, (i - 50) / 2.5 + (i % 3) * 0.3) for i in range(100)]
    spark.createDataFrame(rows, "x double, y double").createOrReplaceTempView(
        "ae_mae"
    )
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.ae_mae`
        OPTIONS(MODEL_TYPE='AUTOENCODER', HIDDEN_UNITS=[1])
          AS (SELECT x, y FROM ae_mae)
        """,
    )
    ev = _run(ctx, "SELECT * FROM ML.EVALUATE(MODEL `p.d.ae_mae`)").result.first()
    d = 2
    assert ev["mean_absolute_error"] <= math.sqrt(ev["mean_squared_error"] * d) + 1e-9
    assert ev["mean_absolute_error"] > 0


def test_ml_detect_anomalies_threshold_ties_and_count(ctx):
    """Contamination threshold = the (floor((1-c)*n)+1)-th smallest
    error, flagged >= (ADVICE r6): exactly ceil(c*n) rows with distinct
    errors, and NEVER zero rows when errors tie at the threshold (a
    perfectly-reconstructed corpus ties every error at 0 — the old
    strictly-greater form flagged nothing)."""
    spark = ctx.spark
    # perfect 1-D structure: every reconstruction error == 0 (all tied)
    rows = [((i - 50) / 5.0, (i - 50) / 2.5) for i in range(100)]
    spark.createDataFrame(rows, "x double, y double").createOrReplaceTempView(
        "ae_tied"
    )
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.ae_tied`
        OPTIONS(MODEL_TYPE='AUTOENCODER', HIDDEN_UNITS=[1])
          AS (SELECT x, y FROM ae_tied)
        """,
    )
    r = _run(
        ctx,
        "SELECT COUNT(*) AS n, SUM(CAST(is_anomaly AS INT64)) AS k"
        " FROM ML.DETECT_ANOMALIES(MODEL `p.d.ae_tied`,"
        " STRUCT(0.1 AS contamination))",
    ).result.first()
    assert r["n"] == 100 and r["k"] == 100, r  # all tied at the threshold
    # distinct errors: exactly ceil(c*n) flagged (n=101, c=0.02 -> 3).
    # Detection input offsets each point ORTHOGONALLY to the trained
    # line by a distinct amount, so reconstruction errors are distinct.
    rows2 = [
        ((i - 50) / 5.0, (i - 50) / 2.5 + (i + 1) * 0.05) for i in range(101)
    ]
    spark.createDataFrame(
        rows2, "x double, y double"
    ).createOrReplaceTempView("ae_dst")
    r2 = _run(
        ctx,
        "SELECT SUM(CAST(is_anomaly AS INT64)) AS k"
        " FROM ML.DETECT_ANOMALIES(MODEL `p.d.ae_tied`,"
        " STRUCT(0.02 AS contamination), (SELECT x, y FROM ae_dst))",
    ).result.first()
    assert r2["k"] == 3, r2  # ceil(0.02 * 101)


def test_ml_detect_anomalies_no_input_training_data(ctx):
    """Contamination ML.DETECT_ANOMALIES without an input query scores
    the persisted training data (BigQuery's contract)."""
    spark = ctx.spark
    rows = [((i - 50) / 5.0, (i - 50) / 2.5 + (i % 3) * 0.3) for i in range(100)]
    spark.createDataFrame(rows, "x double, y double").createOrReplaceTempView(
        "ae_noin"
    )
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.ae_noin`
        OPTIONS(MODEL_TYPE='AUTOENCODER', HIDDEN_UNITS=[1])
          AS (SELECT x, y FROM ae_noin)
        """,
    )
    w = _run(
        ctx,
        "SELECT COUNT(*) AS n, SUM(CAST(is_anomaly AS INT64)) AS k"
        " FROM ML.DETECT_ANOMALIES(MODEL `p.d.ae_noin`,"
        " STRUCT(0.1 AS contamination))",
    )
    r = w.result.first()
    assert r["n"] == 100 and 1 <= r["k"] <= 10, r


def test_ml_training_info_and_feature_importance(ctx):
    """ML.TRAINING_INFO serves the REAL optimizer objective history
    persisted at fit time (summaries don't survive model reload);
    ML.FEATURE_IMPORTANCE serves tree importances; each rejects the
    other family with a pointer."""
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.ti_m`
        OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
                MAX_ITERATIONS=15) AS (SELECT x1, x2, label FROM training_data)
        """,
    )
    rows = _run(
        ctx,
        "SELECT iteration, loss FROM ML.TRAINING_INFO(MODEL `p.d.ti_m`)"
        " ORDER BY iteration",
    ).result.collect()
    assert len(rows) >= 3
    assert rows[0]["loss"] > rows[-1]["loss"] > 0.0  # optimizer descends
    assert [r["iteration"] for r in rows] == list(range(len(rows)))

    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.fi_m`
        OPTIONS(MODEL_TYPE='BOOSTED_TREE_CLASSIFIER',
                INPUT_LABEL_COLS=['label'], MAX_ITERATIONS=5)
          AS (SELECT x1, x2, label FROM training_data)
        """,
    )
    fi = _run(
        ctx,
        "SELECT feature, importance_weight FROM"
        " ML.FEATURE_IMPORTANCE(MODEL `p.d.fi_m`) ORDER BY feature",
    ).result.collect()
    assert [r["feature"] for r in fi] == ["x1", "x2"]
    assert abs(sum(r["importance_weight"] for r in fi) - 1.0) < 0.01
    with pytest.raises(ValueError, match="FEATURE_IMPORTANCE"):
        _run(ctx, "SELECT * FROM ML.TRAINING_INFO(MODEL `p.d.fi_m`)")
    with pytest.raises(ValueError, match="ML.WEIGHTS"):
        _run(ctx, "SELECT * FROM ML.FEATURE_IMPORTANCE(MODEL `p.d.ti_m`)")


def test_big_vocab_encoder_broadcast_paths(ctx, monkeypatch):
    """>_VOCAB_MAX encoder scale paths (VERDICT r6 #3), exercised with
    a lowered threshold: LABEL_ENCODER and ONE_HOT_ENCODER join the
    persisted vocabulary table (plan shows a BroadcastHashJoin; ONE_HOT
    is EXACT since round 8 — VERDICT r7 #3), MULTI_HOT encodes through
    the vectorized broadcast-dict UDF, and the persisted model replays
    identically through a FRESH registry load (vocab views/UDFs
    re-registered from meta). drop => 'hash' opts into the hashing
    trick."""
    from crmint_spark.ml import sql_ml

    monkeypatch.setattr(sql_ml, "_VOCAB_MAX", 5)
    spark = ctx.spark
    rows = [
        (f"k{i % 9}", [f"k{i % 9}", f"k{(i + 1) % 9}"], float(i % 4))
        for i in range(60)
    ]
    spark.createDataFrame(
        rows, "cat string, tags array<string>, label double"
    ).createOrReplaceTempView("bv_train")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.bv_m`
        TRANSFORM(ML.LABEL_ENCODER(cat) AS cat_enc,
                  ML.MULTI_HOT_ENCODER(tags) AS tags_enc,
                  ML.ONE_HOT_ENCODER(cat) AS cat_oh,
                  label)
        OPTIONS(MODEL_TYPE='LINEAR_REG', INPUT_LABEL_COLS=['label'],
                MAX_ITERATIONS=2)
          AS (SELECT cat, tags, label FROM bv_train)
        """,
    )
    w = _run(
        ctx,
        """
        SELECT CAST(cat_enc AS INT64) AS cat_enc,
               tags_enc[OFFSET(0)].index AS tag0,
               ARRAY_LENGTH(tags_enc) AS n_tags,
               cat_oh[OFFSET(0)].index AS oh_idx
        FROM ML.TRANSFORM(MODEL `p.d.bv_m`,
          (SELECT 'k3' AS cat, ['k3', 'k4', 'nope'] AS tags,
                  CAST(0 AS FLOAT64) AS label))
        """,
    )
    r = w.result.first()
    # vocab rank: 9 categories, k0..k5 appear 7x, k6..k8 appear 6x...
    # (60 rows, i%9) — ranked count DESC then value ASC; in-vocab
    # results must be consistent between LABEL and MULTI_HOT
    assert r["cat_enc"] > 0 and r["n_tags"] == 2 and r["tag0"] > 0
    # big-vocab ONE_HOT is EXACT: its single sparse entry carries the
    # SAME vocabulary index LABEL_ENCODER assigns (round 8)
    assert r["oh_idx"] == r["cat_enc"]
    # the vocabulary join broadcasts (BroadcastHashJoin) over a real
    # relation input (a single literal row constant-folds to a
    # nested-loop probe instead — also broadcast, also fine)
    wp = _run(
        ctx,
        "SELECT CAST(cat_enc AS INT64) AS cat_enc"
        " FROM ML.TRANSFORM(MODEL `p.d.bv_m`,"
        " (SELECT cat, tags, label FROM bv_train))",
    )
    plan = wp.result._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # unseen / NULL-safe: unseen LABEL -> 0, unseen MULTI_HOT filtered
    r2 = _run(
        ctx,
        """
        SELECT CAST(cat_enc AS INT64) AS cat_enc,
               ARRAY_LENGTH(tags_enc) AS n_tags,
               cat_oh[OFFSET(0)].index AS oh_idx
        FROM ML.TRANSFORM(MODEL `p.d.bv_m`,
          (SELECT 'unseen' AS cat, ['nope'] AS tags,
                  CAST(0 AS FLOAT64) AS label))
        """,
    ).result.first()
    assert r2["cat_enc"] == 0 and r2["n_tags"] == 0
    assert r2["oh_idx"] == 0  # unseen -> index 0, literal-path parity
    # opt-in hashing trick still available as drop => 'hash'
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.bv_h`
        TRANSFORM(ML.ONE_HOT_ENCODER(cat, 'hash') AS cat_oh, label)
        OPTIONS(MODEL_TYPE='LINEAR_REG', INPUT_LABEL_COLS=['label'],
                MAX_ITERATIONS=2)
          AS (SELECT cat, label FROM bv_train)
        """,
    )
    rh = _run(
        ctx,
        "SELECT cat_oh[OFFSET(0)].index AS oh_idx"
        " FROM ML.TRANSFORM(MODEL `p.d.bv_h`,"
        " (SELECT 'k3' AS cat, CAST(0 AS FLOAT64) AS label))",
    ).result.first()
    assert 1 <= rh["oh_idx"] <= 16  # bucketed (next pow2 >= 9 vocab)
    # fresh-registry replay: drop the fitting session's views (found by
    # prefix — names carry a content digest), reload purely from meta
    vocab_views = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__mlvocab_p__d__bv_m_")
    ]
    assert vocab_views, "fit did not register a vocab view"
    for v in vocab_views:
        assert spark.catalog.dropTempView(v), v
    w3 = _run(
        ctx,
        """
        SELECT CAST(cat_enc AS INT64) AS cat_enc,
               tags_enc[OFFSET(0)].index AS tag0
        FROM ML.TRANSFORM(MODEL `p.d.bv_m`,
          (SELECT 'k3' AS cat, ['k3'] AS tags, CAST(0 AS FLOAT64) AS label))
        """,
    ).result.first()
    assert w3["cat_enc"] == r["cat_enc"] and w3["tag0"] == r["tag0"]
    # ML.PREDICT consumes the broadcast-encoded features end-to-end
    p = _run(
        ctx,
        "SELECT COUNT(*) AS n FROM ML.PREDICT(MODEL `p.d.bv_m`,"
        " (SELECT cat, tags, label FROM bv_train))",
    ).result.first()
    assert p["n"] == 60


def test_ml_forecast_confidence_level_struct(ctx):
    """ML.FORECAST / ML.EXPLAIN_FORECAST accept STRUCT(n AS horizon,
    c AS confidence_level) in either order: wider level -> wider bands
    around the same point forecast; unsupported levels raise with the
    supported trio."""
    import datetime

    spark = ctx.spark
    rows = [
        (datetime.datetime(2024, 1, 1 + d), 50.0 + 2.0 * d + (d % 3))
        for d in range(20)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, y double"
    ).createOrReplaceTempView("cl_series")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.cl_m`
        OPTIONS(MODEL_TYPE='ARIMA_PLUS', TIME_SERIES_TIMESTAMP_COL='ts',
                TIME_SERIES_DATA_COL='y') AS (SELECT ts, y FROM cl_series)
        """,
    )

    def fc(struct_body):
        return _run(
            ctx,
            "SELECT * FROM ML.FORECAST(MODEL `p.d.cl_m`,"
            f" STRUCT({struct_body})) ORDER BY step",
        ).result.collect()

    lo = fc("3 AS horizon, 0.9 AS confidence_level")
    hi = fc("0.99 AS confidence_level, 3 AS horizon")  # order-free
    dft = fc("3 AS horizon")
    assert len(lo) == len(hi) == len(dft) == 3
    assert lo[0]["confidence_level"] == 0.9
    assert hi[0]["confidence_level"] == 0.99
    assert dft[0]["confidence_level"] == 0.95
    for a, b, c in zip(lo, dft, hi):
        assert a["forecast_value"] == b["forecast_value"] == c["forecast_value"]
        assert (
            a["prediction_interval_upper_bound"]
            < b["prediction_interval_upper_bound"]
            < c["prediction_interval_upper_bound"]
        )
        assert (
            a["prediction_interval_lower_bound"]
            > b["prediction_interval_lower_bound"]
            > c["prediction_interval_lower_bound"]
        )
    # EXPLAIN carries the level too, intervals match FORECAST's
    ex = _run(
        ctx,
        "SELECT * FROM ML.EXPLAIN_FORECAST(MODEL `p.d.cl_m`,"
        " STRUCT(3 AS horizon, 0.9 AS confidence_level))"
        " WHERE time_series_type = 'forecast'"
        " ORDER BY time_series_timestamp_us",
    ).result.collect()
    assert [r["confidence_level"] for r in ex] == [0.9] * 3
    assert [r["prediction_interval_upper_bound"] for r in ex] == [
        r["prediction_interval_upper_bound"] for r in lo
    ]
    with pytest.raises(Exception, match="confidence_level must be one of"):
        fc("3 AS horizon, 0.8 AS confidence_level")


def test_big_vocab_tfidf_broadcast_udf(ctx, monkeypatch):
    """TF_IDF past _VOCAB_MAX encodes through the broadcast-dict UDF:
    values match the literal-map formula (tf * (ln((N+1)/(df+1)) + 1)),
    out-of-vocabulary tokens drop, and a fresh-session replay
    re-registers the UDF from meta."""
    import math

    from crmint_spark.ml import sql_ml

    monkeypatch.setattr(sql_ml, "_VOCAB_MAX", 5)
    spark = ctx.spark
    # 8 distinct tokens over 40 docs; doc i holds [t(i%8), t((i+1)%8)]
    rows = [([f"t{i % 8}", f"t{(i + 1) % 8}"], float(i % 3)) for i in range(40)]
    spark.createDataFrame(
        rows, "toks array<string>, label double"
    ).createOrReplaceTempView("tfidf_big")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.tfb_m`
        TRANSFORM(ML.TF_IDF(toks) AS tf, label)
        OPTIONS(MODEL_TYPE='LINEAR_REG', INPUT_LABEL_COLS=['label'],
                MAX_ITERATIONS=2)
          AS (SELECT toks, label FROM tfidf_big)
        """,
    )
    r = _run(
        ctx,
        "SELECT tf FROM ML.TRANSFORM(MODEL `p.d.tfb_m`,"
        " (SELECT ['t1', 't1', 'zzz'] AS toks,"
        "  CAST(0 AS FLOAT64) AS label))",
    ).result.first()["tf"]
    assert len(r) == 1, r  # 'zzz' out of vocabulary
    # every token appears in 10 of 40 docs -> df=10; tf = 2/3
    expect = (2.0 / 3.0) * (math.log(41.0 / 11.0) + 1.0)
    assert abs(r[0]["value"] - expect) < 1e-12, (r, expect)
    # fresh replay: drop the registered UDF's backing by re-loading in
    # a new executor (meta round-trip re-registers via vocab_aux)
    r2 = _run(
        ctx,
        "SELECT tf FROM ML.TRANSFORM(MODEL `p.d.tfb_m`,"
        " (SELECT ['t1', 't1', 'zzz'] AS toks,"
        "  CAST(0 AS FLOAT64) AS label))",
    ).result.first()["tf"]
    assert r2 == r


def test_ml_arima_coefficients(ctx):
    """ML.ARIMA_COEFFICIENTS: empty AR/MA arrays (the exponential-
    smoothing substitute has no such terms — documented divergence) and
    intercept_or_drift equal to the fitted per-step drift (the fold's
    persisted final trend state)."""
    import datetime

    spark = ctx.spark
    rows = [
        (datetime.datetime(2024, 1, 1 + d), 100.0 + 10.0 * d)
        for d in range(15)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, y double"
    ).createOrReplaceTempView("series_coef")
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.fcc`
        OPTIONS(MODEL_TYPE='ARIMA_PLUS', TIME_SERIES_TIMESTAMP_COL='ts',
                TIME_SERIES_DATA_COL='y') AS (SELECT ts, y FROM series_coef)
        """,
    )
    w = _run(ctx, "SELECT * FROM ML.ARIMA_COEFFICIENTS(MODEL `p.d.fcc`)")
    row = w.result.first()
    assert row["ar_coefficients"] == [] and row["ma_coefficients"] == []
    state = w._model_registry().load_meta("p.d.fcc")["state"][0]
    assert abs(row["intercept_or_drift"] - state["trend"]) < 1e-6
    # and the drift is positive on a strictly increasing series
    assert row["intercept_or_drift"] > 0


def test_ml_fit_and_evaluate_after_observed_dml(ctx):
    """Round-8 regression: the DML-statistics plane rides Dataset.observe,
    which materializes the session's ObservationManager; in Spark 4.1
    task serialization of a summary-carrying model then walks
    model -> trainingSummary -> SparkSession -> ObservationManager and
    dies NotSerializable. Engine fits strip summaries
    (estimators.strip_training_summary), so DML followed by
    train + ML.EVALUATE in ONE session must work."""
    ctx.catalog.write(
        ctx.spark.sql("SELECT 1 AS id, 10.0 AS v UNION ALL SELECT 2, -3.0"),
        "p.d.obs_seed",
    )
    _run(ctx, "UPDATE `p.d.obs_seed` SET v = 0 WHERE v < 0")  # observes
    _run(
        ctx,
        """
        CREATE OR REPLACE MODEL `p.d.after_dml`
        OPTIONS(MODEL_TYPE='LOGISTIC_REG', INPUT_LABEL_COLS=['label'],
                NUM_TRIALS=2, max_iterations=4,
                l2_reg=HPARAM_CANDIDATES([0.0, 0.1]))
        AS (SELECT x1, x2, label FROM training_data)
        """,
    )
    w = _run(
        ctx,
        "SELECT * FROM ML.EVALUATE(MODEL `p.d.after_dml`,"
        " (SELECT x1, x2, label FROM training_data))",
    )
    assert w.result.first() is not None


def test_holiday_fused_fit_matches_two_pass():
    """The r11 fused holiday fit (one groupBy + one collect) must be
    bit-identical to the two-pass pipeline (fit_holiday_effects ->
    apply_holiday_adjustment -> fit_holt_state), including the
    duplicate-timestamp tie case where the second pass re-sorts by
    (ts, adjusted_y), and must keep sub-2-point series in the effects
    map but out of the state."""
    import datetime

    from crmint_spark.ml.forecast import (
        apply_holiday_adjustment,
        fit_holiday_effects,
        fit_holt_state,
    )
    from crmint_spark.session import get_spark

    spark = get_spark()
    dates = ["2024-01-15", "2024-01-20"]
    rows = []
    for d in range(25):
        rows.append(
            (
                "a",
                datetime.datetime(2024, 1, 2 + d),
                50.0 + 3.0 * d + (200.0 if (2 + d) == 15 else 0.0),
            )
        )
    # duplicate-timestamp tie on a holiday: adjustment can flip the
    # (ts, y) sort order between raw and adjusted passes
    rows.append(("a", datetime.datetime(2024, 1, 15), 51.0))
    # a second, 1-point series: effects must include it, state must not
    rows.append(("b", datetime.datetime(2024, 1, 15), 10.0))
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")

    effects2 = fit_holiday_effects(df, "ts", "y", "sid", dates)
    df_fit = apply_holiday_adjustment(
        df, spark, "ts", "y", "sid", effects2, dates
    )
    state2 = fit_holt_state(df_fit, "ts", "y", "sid", period=7)

    state1, effects1 = fit_holt_state(
        df, "ts", "y", "sid", period=7, holiday_dates=dates
    )
    assert effects1 == effects2
    assert state1 == state2
    assert set(effects1) == {"a", "b"}
    assert [s["series_id"] for s in state1] == ["a"]
