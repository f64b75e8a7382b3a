"""``propensity_daily``: CRMint's ML flow end to end.

Each cycle is one simulated day. It compiles an ``MlModelConfig`` as of
that day, registers it with the ``Engine`` and runs the training
pipeline (training dataset, Spark ML fit, calibration scoring, NTILE
conversion values) and the predictive pipeline (scoring dataset,
prediction, range-join output, Measurement Protocol upload). The days
rotate over a fixed week, so every cycle scans the same event table and
does the same kind of work.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from . import gen, oracle
from .common import Context, Cycle, count_pipeline

SIZE = gen.PropensitySize()
TRAINING_DAYS = 14
FIRST_DAY = 16  # first as-of day: a full training window lies behind it
ROTATION = 7  # as-of days cycle over one week
EVENTS_TABLE = "crm.ga4.events"
DATASET = "crm.models"
MODEL = "propensity"


def as_of(i: int) -> str:
    return gen.day_str(FIRST_DAY + i % ROTATION)


def config(day: str):
    from crmint_spark.ml.compiler import MlModelConfig, Timespans, Variable

    return MlModelConfig(
        name=MODEL,
        variables=[
            Variable("page_view", "FEATURE", comparison="EQUAL", value="page_view"),
            Variable("view_item", "FEATURE", comparison="EQUAL", value="view_item"),
            Variable("add_to_cart", "FEATURE", comparison="EQUAL", value="add_to_cart"),
            Variable("purchase", "LABEL", comparison="EQUAL", value="purchase"),
        ],
        timespans=Timespans(training_days=TRAINING_DAYS, predictive_days=1, exclusion_days=0),
        # the output job runs its SQL through spark.sql directly, so the
        # events table is addressed by the view Catalog.write registers
        events_table=EVENTS_TABLE.replace(".", "__"),
        as_of_date=day,
        dataset=DATASET,
    )


class Propensity:
    name = "propensity_daily"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.inputs = os.path.join(ctx.work, "inputs")
        self.warehouse = os.path.join(ctx.work, "warehouse")
        self.warehouses = [self.warehouse]
        self.mp_dir = os.path.join(ctx.work, "mp")

    def setup(self) -> None:
        from crmint_spark.engine import Engine
        from crmint_spark.workers.transports import FileRecordingTransport

        self.paths = gen.propensity_inputs(self.ctx.seed, self.inputs, SIZE)
        ev = pq.read_table(self.paths["events"], columns=["ts"])
        self._days = (ev["ts"].to_numpy().astype("datetime64[D]") - gen.BASE_DAY).astype(np.int64)
        # the engine's own offline transport: executor tasks write each
        # Measurement Protocol batch to a file of its own, without sleeps
        self.transport = FileRecordingTransport(self.mp_dir)
        self.engine = Engine(self.ctx.spark, self.warehouse, transport=self.transport)
        self.engine.runner.max_parallel = self.ctx.cores
        spark = self.ctx.spark
        self.engine.catalog.write(spark.read.parquet(self.paths["events"]), EVENTS_TABLE)
        self.con = oracle.connect()
        self.con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.paths['events']}')")
        self.con.execute(f"CREATE VIEW truth AS SELECT * FROM read_parquet('{self.paths['truth']}')")

    def rows_for(self, i: int) -> int:
        """Event rows inside the windows the cycle's pipelines read: the
        training window and the scoring window (inclusive BETWEEN)."""
        d = FIRST_DAY + i % ROTATION
        train = np.count_nonzero((self._days >= d - TRAINING_DAYS) & (self._days <= d))
        score = np.count_nonzero((self._days >= d - 1) & (self._days <= d))
        return int(train + score)

    def run_cycle(self, i: int, clock) -> Cycle:
        c = Cycle(rows=self.rows_for(i))
        shutil.rmtree(self.mp_dir, ignore_errors=True)  # this cycle's batches only
        clock.take()
        t0 = time.perf_counter()
        train_name, pred_name = self.engine.register_ml_model(config(as_of(i)))
        runs = dict(self.engine.start(train_name))
        runs.update({f"predict.{k}": v for k, v in self.engine.start(pred_name).items()})
        c.wall = time.perf_counter() - t0
        c.jobs = clock.take()
        count_pipeline(c, runs)
        c.verify = lambda: self.check(c, i)
        return c

    # -- output checks -----------------------------------------------------

    def _t(self, suffix: str) -> str:
        return oracle.read_table(self.warehouse, f"{DATASET}.{MODEL}_{suffix}")

    def check(self, c: Cycle, i: int) -> None:
        con, day = self.con, as_of(i)

        def same_dataset(suffix: str, split: str, days: int) -> tuple[bool, str]:
            cols = "unique_id, f_page_view, f_view_item, f_add_to_cart, label"
            got = con.sql(f"SELECT {cols} FROM {self._t(suffix)}").fetchall()
            want = con.sql(
                f"SELECT {cols} FROM ({oracle.dataset_sql('events', day, days, 0, split, 4)})"
            ).fetchall()
            return oracle.multiset(got) == oracle.multiset(want), f"{len(got)} rows vs {len(want)}"

        c.check("training dataset", lambda: same_dataset("training", "train", TRAINING_DAYS))
        c.check("scoring dataset", lambda: same_dataset("scoring", "all", 1))

        def probabilities() -> tuple[bool, str]:
            lo, hi, n = con.sql(
                f"SELECT MIN(probability), MAX(probability), COUNT(*) FROM {self._t('predictions')}"
            ).fetchone()
            return n > 0 and 0.0 <= lo <= hi <= 1.0, f"[{lo}, {hi}] over {n}"

        c.check("probabilities in [0, 1]", probabilities)

        def ranges() -> tuple[bool, str]:
            rows = con.sql(
                "SELECT normalized_probability, probability_range_start, probability_range_end "
                f"FROM {self._t('conversion_values')}"
            ).fetchall()
            return oracle.ranges_contiguous(rows), str(sorted(rows))

        c.check("conversion-value ranges", ranges)

        def planted_signal() -> tuple[bool, str]:
            rows = con.sql(
                f"SELECT p.probability, t.intent FROM {self._t('predictions')} p "
                "JOIN truth t ON t.user_id = p.unique_id"
            ).fetchall()
            a = oracle.auc([r[0] for r in rows], [r[1] for r in rows])
            return a >= oracle.AUC_FLOOR, f"AUC {a:.3f}"

        c.check("AUC against planted intent", planted_signal)

        output_cols = "client_id, score, normalized_score, value"
        output = con.sql(f"SELECT {output_cols} FROM {self._t('output')}").fetchall()

        def range_join() -> tuple[bool, str]:
            want = con.sql(
                oracle.range_join_sql(self._t("predictions"), self._t("conversion_values"))
            ).fetchall()
            return oracle.multiset(output) == oracle.multiset(want), f"{len(output)} vs {len(want)}"

        c.check("output equals range join", range_join)

        batches = self.transport.read_batches()
        payloads = oracle.payload_rows(batches)

        def uploads() -> tuple[bool, str]:
            return oracle.multiset(payloads) == oracle.multiset(output), f"{len(payloads)} vs {len(output)}"

        c.check("payloads equal output rows", uploads)
        c.layer = {
            "sink.payloads": float(len(payloads)),
            "sink.batches": float(len(batches)),
            "sink.mb": sum(e.stat().st_size for e in os.scandir(self.mp_dir)) / (1024 * 1024)
            if os.path.isdir(self.mp_dir)
            else 0.0,
            "sink.duplicate_users": float(len(payloads) - len({p[0] for p in payloads})),
        }
