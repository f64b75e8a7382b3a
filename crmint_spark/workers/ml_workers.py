"""ML workers: train / batch-predict on Spark ML.

Replace the reference's BQML + Vertex AI workers
(ref: backend/jobs/workers/vertexai/vertexai_tabular_trainer.py:21-110,
vertexai_batch_predictor_to_bq.py:21-77, bigquery/bq_ml_trainer.py:21-30):
``fit`` is synchronous, so the waiter/polling machinery vanishes; the
"model registry" is a directory of saved PipelineModels keyed by name
(keep-latest cleanup like the reference's stale-model deletion).
"""

from __future__ import annotations

import os
import shutil

from pyspark.ml import PipelineModel

from ..ml.estimators import build_pipeline, load_model, predict_output
from .base import Worker, WorkerException


def model_dir(root: str, name: str) -> str:
    return os.path.join(root, "_models", name)


class MLTrainer(Worker):
    PARAMS = [
        ("source_table", "string", True, "", "training table"),
        ("model_name", "string", True, "", "model registry name"),
        ("model_type", "string", True, "LOGISTIC_REG", "BQML model type"),
        ("label_col", "string", True, "label", "label column"),
        ("feature_cols", "string_list", True, None, "feature columns"),
        ("hyperparams", "text", False, "", "JSON hyper-params"),
        ("clean_up", "boolean", False, True, "drop previous model dir"),
    ]

    def _execute(self) -> None:
        import json

        df = self._ctx.catalog.read(self._params["source_table"])
        hp = json.loads(self._params["hyperparams"]) if self._params["hyperparams"] else {}
        pipeline = build_pipeline(
            self._params["model_type"],
            self._params["feature_cols"],
            self._params["label_col"],
            hp,
        )
        from ..ml.estimators import strip_training_summary

        model = strip_training_summary(pipeline.fit(df))
        dest = model_dir(self._ctx.catalog.root, self._params["model_name"])
        if self._params["clean_up"] and os.path.isdir(dest):
            shutil.rmtree(dest)  # keep-latest (ref: vertexai_worker cleanup)
        from ..ml.estimators import save_model

        save_model(model, dest)
        self.log_info(f"trained {self._params['model_type']} -> {dest}")


class ConversionValuesWorker(Worker):
    """Materializes the conversion-values segment table from scored
    calibration data (ref: model_bqml.sql:30-49). The compiler provides
    the SQL with a ``__predictions__`` placeholder view."""

    PARAMS = [
        ("predictions_table", "string", True, "", "scored calibration table"),
        ("destination_table", "string", True, "", "output table"),
        ("sql", "sql", True, "", "SQL with __predictions__ placeholder"),
    ]

    def _execute(self) -> None:
        view = self._ctx.catalog.register(self._params["predictions_table"])
        sql = self._params["sql"].replace("__predictions__", view)
        df = self._ctx.spark.sql(sql)
        self._ctx.catalog.write(df, self._params["destination_table"])
        self.log_info(f"conversion values -> {self._params['destination_table']}")


class OutputWorker(Worker):
    """probability -> value range join + MP output shape
    (ref: output.sql:36-102)."""

    PARAMS = [
        ("predictions_table", "string", True, "", "predictions table"),
        ("conversion_values_table", "string", True, "", "segment table"),
        ("destination_table", "string", True, "", "output table"),
        ("sql", "sql", True, "", "SQL with __predictions__/__cv__ placeholders"),
    ]

    def _execute(self) -> None:
        pview = self._ctx.catalog.register(self._params["predictions_table"])
        sql = self._params["sql"].replace("__predictions__", pview)
        if "__cv__" in sql:
            # regression output has no conversion-values table
            # (ref: output.sql:57-67 vs 36-55)
            cview = self._ctx.catalog.register(
                self._params["conversion_values_table"]
            )
            sql = sql.replace("__cv__", cview)
        df = self._ctx.spark.sql(sql)
        self._ctx.catalog.write(df, self._params["destination_table"])
        self.log_info(f"output -> {self._params['destination_table']}")


class MLPredictor(Worker):
    PARAMS = [
        ("source_table", "string", True, "", "input table"),
        ("model_name", "string", True, "", "model registry name"),
        ("model_type", "string", True, "LOGISTIC_REG", "BQML model type"),
        ("destination_table", "string", True, "", "output table"),
        ("overwrite", "boolean", False, True, "write disposition"),
    ]

    def _execute(self) -> None:
        path = model_dir(self._ctx.catalog.root, self._params["model_name"])
        if not os.path.isdir(path):
            raise WorkerException(f"model not found: {self._params['model_name']}")
        model = load_model(path)
        df = self._ctx.catalog.read(self._params["source_table"])
        scored = predict_output(model, self._params["model_type"], df)
        disposition = "WRITE_TRUNCATE" if self._params["overwrite"] else "WRITE_APPEND"
        self._ctx.catalog.write(scored, self._params["destination_table"], disposition)
        self.log_info(
            f"predicted -> {self._params['destination_table']} ({disposition})"
        )
