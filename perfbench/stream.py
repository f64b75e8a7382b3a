"""Incremental streaming ingestion, the first part of a
``propensity_daily`` day.

Each cycle drops one NDJSON file of events into the landing directory
and drains it twice, as a scheduled ingestion run would:
``user_running_profile`` into a catalog table through
``run_merge_upsert`` (per-batch key upserts), and
``streaming_dedup_by_key`` into a table through ``run_to_table``. Both
queries keep persistent checkpoints and key on the full user / event id.
"""

from __future__ import annotations

import os
import time

from . import gen, oracle
from .common import Context, Cycle
from .layers import input_rows

SIZE = gen.StreamSize()
PROFILE = "crm.stream.user_profile"
DEDUP = "crm.stream.events_dedup"


class Stream:
    name = "event_ingest"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.landing = os.path.join(ctx.work, "landing")
        self.warehouse = os.path.join(ctx.work, "warehouse")
        self.warehouses = [self.warehouse]
        self.checkpoints = os.path.join(ctx.work, "checkpoints")
        self.drops: list[str] = []

    def setup(self) -> None:
        from crmint_spark.catalog import Catalog

        os.makedirs(self.landing, exist_ok=True)
        self.catalog = Catalog(self.ctx.spark, self.warehouse)
        self.con = oracle.connect()

    def _drain(self, c: Cycle, name: str, fn) -> list:
        """One streaming drain = one operation; returns its queries."""
        queries = self.ctx.boundary.queries
        first = len(queries)
        t = time.perf_counter()
        try:
            fn()
            ok, detail = True, ""
        except Exception as e:
            ok, detail = False, f"{type(e).__name__}: {e}"
        c.jobs.append(time.perf_counter() - t)
        c.op(f"drain {name}", ok, detail)
        return queries[first:]

    def run_cycle(self, i: int, clock) -> Cycle:
        from crmint_spark.streaming import events
        from crmint_spark.streaming.stateful import streaming_dedup_by_key, user_running_profile

        rows = gen.stream_drop_rows(self.ctx.seed, i, SIZE)
        path = os.path.join(self.landing, f"drop-{i:05d}.json")
        gen.write_drop(rows, path)
        self.drops.append(path)
        c = Cycle(rows=len(rows))
        spark = self.ctx.spark
        # a state store keeps one checkpointed store per shuffle
        # partition, fixed at the query's first batch: size it to the
        # task threads for the drains only (the batch pipelines keep the
        # engine's default)
        partitions = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(self.ctx.cores))
        t0 = time.perf_counter()
        q_profile = self._drain(
            c,
            "profile",
            lambda: events.run_merge_upsert(
                user_running_profile(events.stream_events_from_dir(spark, self.landing)),
                self.catalog,
                PROFILE,
                ["user_id"],
                os.path.join(self.checkpoints, "profile"),
            ),
        )
        q_dedup = self._drain(
            c,
            "dedup",
            lambda: events.run_to_table(
                streaming_dedup_by_key(events.stream_events_from_dir(spark, self.landing)),
                self.catalog,
                DEDUP,
                os.path.join(self.checkpoints, "dedup"),
                output_mode="append",
            ),
        )
        c.wall = time.perf_counter() - t0
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        c.verify = lambda: self.check(c, len(rows), q_profile, q_dedup)
        return c

    def check(self, c: Cycle, dropped: int, q_profile: list, q_dedup: list) -> None:
        con, wh = self.con, self.warehouse
        all_events = oracle.ndjson_relation(self.drops)

        def profile() -> tuple[bool, str]:
            got = con.sql(
                "SELECT user_id, n_events, ROUND(total_value, 2), epoch_us(first_ts), epoch_us(last_ts) "
                f"FROM {oracle.read_table(wh, PROFILE)}"
            ).fetchall()
            want = con.sql(oracle.stream_profile_sql(all_events)).fetchall()
            return oracle.multiset(oracle.rounded(got)) == oracle.multiset(oracle.rounded(want)), (
                f"{len(got)} vs {len(want)} users"
            )

        c.check("profile equals GROUP BY over all drops", profile)

        def dedup() -> tuple[bool, str]:
            n, distinct = con.sql(
                f"SELECT COUNT(*), COUNT(DISTINCT event_id) FROM {oracle.read_table(wh, DEDUP)}"
            ).fetchone()
            want = con.sql(f"SELECT COUNT(DISTINCT event_id) FROM {all_events}").fetchone()[0]
            return n == distinct == want, f"{n} rows, {distinct} distinct ids, {want} dropped ids"

        c.check("each event id once in dedup table", dedup)

        def drained() -> tuple[bool, str]:
            got = [input_rows(q_profile), input_rows(q_dedup)]
            return got == [dropped, dropped], f"{got} vs {dropped} dropped"

        c.check("drained rows equal dropped rows", drained)
