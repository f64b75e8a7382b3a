"""BQML model-type registry -> pyspark.ml estimators.

The reference's allowed model types (ref: backend/controller/ml_model/
compiler.py:50-62; UI subset models.py:422-426) map onto Spark ML:

  LOGISTIC_REG              -> LogisticRegression
  LINEAR_REG                -> LinearRegression
  BOOSTED_TREE_CLASSIFIER   -> GBTClassifier
  BOOSTED_TREE_REGRESSOR    -> GBTRegressor
  RANDOM_FOREST_CLASSIFIER  -> RandomForestClassifier
  RANDOM_FOREST_REGRESSOR   -> RandomForestRegressor
  DNN_CLASSIFIER            -> MultilayerPerceptronClassifier
  DNN_REGRESSOR             -> crmint_spark.ml.mlp.MLPRegressor
                               (no MLP regressor in Spark ML; ours trains
                               by distributed gradient aggregation and
                               scores as a codegen'd SQL expression)

``CREATE MODEL ... OPTIONS(MODEL_TYPE=..., INPUT_LABEL_COLS=[...])``
(ref: model_bqml.sql:2-16) becomes assemble(features) -> fit.
"""

from __future__ import annotations

from typing import Any

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    GBTClassifier,
    LogisticRegression,
    MultilayerPerceptronClassifier,
    RandomForestClassifier,
)
from pyspark.ml.feature import VectorAssembler, VectorSizeHint
from pyspark.ml.regression import GBTRegressor, LinearRegression, RandomForestRegressor
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CLASSIFIERS = {
    "LOGISTIC_REG": LogisticRegression,
    "BOOSTED_TREE_CLASSIFIER": GBTClassifier,
    "RANDOM_FOREST_CLASSIFIER": RandomForestClassifier,
    "DNN_CLASSIFIER": MultilayerPerceptronClassifier,
    # wide-and-deep: DOCUMENTED DIVERGENCE — the engine serves the deep
    # tower (the linear "wide" half is a strict subset of an MLP with
    # the same inputs); BigQuery's combined architecture is proprietary
    "DNN_LINEAR_COMBINED_CLASSIFIER": MultilayerPerceptronClassifier,
}
REGRESSORS = {
    "LINEAR_REG": LinearRegression,
    "BOOSTED_TREE_REGRESSOR": GBTRegressor,
    "RANDOM_FOREST_REGRESSOR": RandomForestRegressor,
    "DNN_REGRESSOR": None,  # handled by _MLPPipeline in build_pipeline
    "DNN_LINEAR_COMBINED_REGRESSOR": None,  # same MLP path (see above)
}


class _MLPPipeline:
    """Pipeline-API facade over ml.mlp.MLPRegressor so DNN_REGRESSOR
    flows through the same fit/save path as the Spark ML estimators.
    BQML hyper-parameter names (HIDDEN_UNITS, MAX_ITERATIONS,
    LEARN_RATE, L2_REG) map onto the MLP's knobs."""

    def __init__(self, feature_cols, label_col, hp):
        self.feature_cols = feature_cols
        self.label_col = label_col
        self.hp = {str(k).upper(): v for k, v in (hp or {}).items()}

    def fit(self, df: DataFrame):
        from .mlp import MLPRegressor

        kwargs = {}
        if "HIDDEN_UNITS" in self.hp:
            hu = self.hp["HIDDEN_UNITS"]
            kwargs["hidden"] = [int(h) for h in (hu if isinstance(hu, list) else [hu])]
        if "MAX_ITERATIONS" in self.hp:
            kwargs["max_iter"] = int(self.hp["MAX_ITERATIONS"])
        if "LEARN_RATE" in self.hp:
            kwargs["step"] = float(self.hp["LEARN_RATE"])
        if "L2_REG" in self.hp:
            kwargs["l2"] = float(self.hp["L2_REG"])
        return MLPRegressor(self.feature_cols, self.label_col, **kwargs).fit(df)


def strip_training_summary(model):
    """Drop Spark ML training summaries right after fit (loss-free: the
    engine reads its metrics at fit time, never from the summary).

    Why: a training summary holds the SparkSession, and once ANY
    ``Dataset.observe`` has materialized the session's
    ObservationManager — the DML-statistics plane does — Java task
    serialization of a summary-carrying model walks
    model -> summary -> session -> ObservationManager and dies with
    NotSerializableException (Spark 4.1: the manager is neither
    @transient nor Serializable; reproduced minimally with one observed
    write followed by BinaryClassificationEvaluator.evaluate). Stripping
    the summary makes every engine-fit model immune regardless of DML
    history. Models without a JVM setSummary (our pure-Python MLP,
    ALS, PCA) pass through untouched."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return model
    stages = getattr(model, "stages", None)
    for st in stages if stages else [model]:
        jo = getattr(st, "_java_obj", None)
        if jo is None:
            continue
        try:
            jo.setSummary(sc._jvm.scala.Option.empty())
        except Exception:
            pass  # no summary plane on this model type
    return model


# path -> (directory mtime_ns stamp, model object). Spark ML model
# (de)serialization launches a dozen tiny jobs per call (~0.5-1 s each
# way); within one process the just-saved object can serve loads
# directly (r11, guide §1 — pure fixed overhead). The DISK artifact is
# still written unconditionally: it stays the source of truth, and the
# stamp check invalidates the cache whenever anything rewrites the
# directory. Bounded LRU so long sessions don't pin JVM model objects.
_MODEL_CACHE: dict[str, tuple[int, object]] = {}
_MODEL_CACHE_MAX = 32


def _model_stamp(path: str) -> int:
    """Change stamp for a saved-model directory: every Spark ML
    overwrite-save rewrites the metadata/stages children, bumping the
    directory mtime."""
    import os

    try:
        st = os.stat(path).st_mtime_ns
        for child in ("metadata", "stages"):
            p = os.path.join(path, child)
            if os.path.isdir(p):
                st = max(st, os.stat(p).st_mtime_ns)
        return st
    except OSError:
        return -1


def save_model(model, dest: str):
    """Persist a fitted model AND memoize the live object for same-
    process loads (the artifact on disk is unchanged)."""
    model.write().overwrite().save(dest)
    while len(_MODEL_CACHE) >= _MODEL_CACHE_MAX:
        _MODEL_CACHE.pop(next(iter(_MODEL_CACHE)))
    _MODEL_CACHE[dest] = (_model_stamp(dest), model)
    return model


def load_model(path: str):
    """Load a saved model: JSON-persisted MLP or a Spark ML
    PipelineModel; served from the in-process cache when the directory
    is unchanged since the cached save/load."""
    cached = _MODEL_CACHE.get(path)
    if cached is not None and cached[0] == _model_stamp(path):
        return cached[1]
    from .mlp import MLPRegressorModel

    if MLPRegressorModel.is_saved(path):
        model = MLPRegressorModel.load(path)
    else:
        model = PipelineModel.load(path)
    while len(_MODEL_CACHE) >= _MODEL_CACHE_MAX:
        _MODEL_CACHE.pop(next(iter(_MODEL_CACHE)))
    _MODEL_CACHE[path] = (_model_stamp(path), model)
    return model


def is_classifier(model_type: str) -> bool:
    mt = model_type.upper()
    if mt in CLASSIFIERS:
        return True
    if mt in REGRESSORS:
        return False
    raise ValueError(f"unsupported MODEL_TYPE: {model_type}")


def build_pipeline(
    model_type: str,
    feature_cols: list[str],
    label_col: str,
    hyperparams: dict[str, Any] | None = None,
    vector_sizes: dict[str, int] | None = None,
) -> Pipeline:
    """Assemble numeric features + index string features -> estimator.

    ``vector_sizes``: fixed widths for vector-typed feature columns
    (dense one-hot twins from the TRANSFORM encoders) — VectorSizeHint
    metadata lets the assembler keep handleInvalid='keep' without a
    length-inference pass."""
    mt = model_type.upper()
    if mt in ("DNN_REGRESSOR", "DNN_LINEAR_COMBINED_REGRESSOR"):
        return _MLPPipeline(feature_cols, label_col, hyperparams)
    stages: list = []
    assembled: list[str] = []
    for c in feature_cols:
        assembled.append(c)
    for c, size in (vector_sizes or {}).items():
        if c in feature_cols:
            stages.append(
                VectorSizeHint(
                    inputCol=c, size=int(size), handleInvalid="optimistic"
                )
            )
    stages.append(
        VectorAssembler(inputCols=assembled, outputCol="features", handleInvalid="keep")
    )
    cls = CLASSIFIERS.get(mt) or REGRESSORS.get(mt)
    if cls is None:
        raise ValueError(f"unsupported MODEL_TYPE: {model_type}")
    kwargs: dict[str, Any] = {"featuresCol": "features", "labelCol": label_col}
    hp = dict(hyperparams or {})
    if cls is MultilayerPerceptronClassifier and "layers" not in hp:
        hp["layers"] = [len(feature_cols), 8, 2]
    # map a few BQML hyper-param names onto Spark ML equivalents
    renames = {
        "MAX_ITERATIONS": "maxIter",
        "LEARN_RATE": "stepSize",
        "L2_REG": "regParam",
        "MAX_TREE_DEPTH": "maxDepth",
        "NUM_PARALLEL_TREE": "numTrees",
        "MIN_REL_PROGRESS": "tol",
    }
    early_stop = True
    for k, v in hp.items():
        ku = str(k).upper()
        if ku == "EARLY_STOP":
            early_stop = str(v).strip("'\"").upper() != "FALSE"
            continue
        kwargs[renames.get(ku, k)] = v
    # BQML's documented iterative defaults: early_stop=TRUE with
    # min_rel_progress=0.01 — stop when the relative loss improvement
    # drops below 1% instead of always burning max_iterations. Spark's
    # `tol` plays the same role (its 1e-6 default effectively disables
    # early stop at BQML's scale).
    if (
        cls in (LogisticRegression, LinearRegression)
        and early_stop
        and "tol" not in kwargs
    ):
        kwargs["tol"] = 0.01
    stages.append(cls(**kwargs))
    return Pipeline(stages=stages)


def predict_with_probability(
    model: PipelineModel, df: DataFrame, positive_index: int = 1
) -> DataFrame:
    """``ML.PREDICT`` + probability extraction for the positive class
    (ref: model_bqml.sql:26-29, 312-315: UNNEST(predicted_label_probs)
    WHERE label = 1)."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(df)
    if "probability" in scored.columns:
        return scored.withColumn(
            "probability",
            F.round(vector_to_array("probability")[positive_index], 6),
        )
    return scored
