"""``audience_scripts``: CRMint's BigQuery-script pipelines.

Each cycle is one simulated day. It imports a pipeline JSON with
``Engine.import_pipeline``: two ``BQScriptExecutor`` branches run in
parallel (orders into the customer profile; web sessions into
engagement), a third script rebuilds segments and the audience table,
and ``GA4AudiencesUpdater`` pushes the audiences. The scripts live in
``sql/`` and use Jinja params, DECLARE/SET/IF/WHILE, temp tables,
MERGE/UPDATE/DELETE/INSERT, CREATE OR REPLACE and an
``INFORMATION_SCHEMA.JOBS`` read.
"""

from __future__ import annotations

import json
import os
import time

from crmint_spark.workers.transports import InMemoryAudienceTransport

from . import gen, oracle
from .common import Context, Cycle, count_pipeline

SIZE = gen.AudienceSize()
SQL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sql")
PIPELINE = "crm_audiences"
TEMPLATE = (
    '{"name": "$name", "displayName": "Segment $segment", '
    '"description": "$members members, $active_members active", '
    '"membershipDurationDays": 30}'
)
#: data statements (the ones INFORMATION_SCHEMA.JOBS records; DECLARE,
#: SET, IF and WHILE are script control) each script runs per day:
#: profile.sql: CREATE TEMP, MERGE, UPDATE, INSERT (IF orders), one
#: INSERT of the IF/ELSE; engagement.sql: CREATE TEMP, MERGE, DELETE,
#: INSERT, INSERT; segments.sql: CREATE OR REPLACE, DELETE, four loop
#: INSERTs, CREATE OR REPLACE, INSERT
STATEMENTS_PER_DAY = 4 + 5 + 8  # plus one when the day has orders


def _script(name: str) -> str:
    with open(os.path.join(SQL_DIR, name)) as f:
        return f.read()


def pipeline_json(day: int) -> dict:
    def script_job(name: str, after: list[str]) -> dict:
        return {
            "id": name,
            "name": name,
            "worker_class": "BQScriptExecutor",
            "params": [{"name": "script", "type": "sql", "value": _script(f"{name}.sql")}],
            "hash_start_conditions": [{"preceding_job_id": a, "condition": "success"} for a in after],
        }

    return {
        "name": PIPELINE,
        "params": [{"name": "day", "value": str(day)}],
        "jobs": [
            script_job("profile", []),
            script_job("engagement", []),
            script_job("segments", ["profile", "engagement"]),
            {
                "id": "push",
                "name": "push",
                "worker_class": "GA4AudiencesUpdater",
                "params": [
                    {"name": "source_table", "type": "string", "value": "crm.mart.audiences"},
                    {"name": "template", "type": "text", "value": TEMPLATE},
                ],
                "hash_start_conditions": [{"preceding_job_id": "segments", "condition": "success"}],
            },
        ],
    }


class RemoteAudiences(InMemoryAudienceTransport):
    """The engine's in-memory audience API, extended to keep what each
    push stored, so that a later day diffs against earlier pushes."""

    def start_cycle(self) -> dict[str, dict]:
        """Forget the previous cycle's calls; returns a snapshot of the
        remote state the coming diff runs against."""
        self.inserted, self.updated = [], []
        return {a["name"]: dict(a) for a in self.existing}

    def insert_audience(self, payload: dict) -> None:
        super().insert_audience(payload)
        self.existing.append({**payload, "resourceName": f"properties/1/audiences/{payload['name']}"})

    def update_audience(self, resource_name: str, payload: dict) -> None:
        super().update_audience(resource_name, payload)
        self.existing = [{**a, **payload} if a["name"] == payload["name"] else a for a in self.existing]


class Audience:
    name = "audience_scripts"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.inputs = os.path.join(ctx.work, "inputs")
        self.warehouse = os.path.join(ctx.work, "warehouse")
        self.warehouses = [self.warehouse]
        self.transport = RemoteAudiences()

    def setup(self) -> None:
        from crmint_spark.engine import Engine
        from crmint_spark.workers.sql_executor import BQScriptExecutor

        self.paths = gen.audience_inputs(self.ctx.seed, self.inputs, SIZE)
        self.engine = Engine(self.ctx.spark, self.warehouse, transport=self.transport)
        self.engine.runner.max_parallel = min(2, self.ctx.cores)
        spark = self.ctx.spark
        for name, path in self.paths.items():
            self.engine.catalog.write(spark.read.parquet(path), f"crm.raw.{name}")
        BQScriptExecutor({"script": _script("setup.sql"), "dry_run": False}, self.engine.ctx).execute()
        self.con = oracle.connect()
        for name, path in self.paths.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.day_rows = dict(
            self.con.sql(
                "SELECT day, SUM(n) FROM (SELECT day, COUNT(*) AS n FROM orders GROUP BY day "
                "UNION ALL SELECT day, COUNT(*) FROM sessions GROUP BY day) GROUP BY day"
            ).fetchall()
        )

    def run_cycle(self, i: int, clock) -> Cycle:
        day = i % SIZE.days
        c = Cycle(rows=int(self.day_rows.get(day, 0)))
        remote_before = self.transport.start_cycle()
        jobs_before = self.job_seq()
        clock.take()
        t0 = time.perf_counter()
        self.engine.import_pipeline(pipeline_json(day))
        runs = self.engine.start(PIPELINE)
        c.wall = time.perf_counter() - t0
        c.jobs = clock.take()
        count_pipeline(c, runs)
        jobs_recorded = self.job_seq() - jobs_before
        c.verify = lambda: self.check(c, day, remote_before, jobs_recorded)
        c.layer = {
            "audience.inserts": float(len(self.transport.inserted)),
            "audience.updates": float(len(self.transport.updated)),
        }
        return c

    def job_seq(self) -> int:
        """Jobs recorded so far, read back from the durable job history
        that serves INFORMATION_SCHEMA.JOBS (ordinal job ids)."""
        path = os.path.join(self.warehouse, "__jobs__", "jobs.jsonl")
        if not os.path.exists(path):
            return 0
        last = 0
        with open(path) as f:
            for line in f:
                if line.strip():
                    last = max(last, int(json.loads(line)["job_id"].rsplit("_", 1)[1]))
        return last

    def check(self, c: Cycle, day: int, remote_before: dict, jobs_recorded: int) -> None:
        con, wh = self.con, self.warehouse

        def profile() -> tuple[bool, str]:
            cols = "customer_id, n_orders, revenue, first_day, last_day, tier"
            got = con.sql(f"SELECT {cols} FROM {oracle.read_table(wh, 'crm.mart.customer_profile')}").fetchall()
            want = con.sql(oracle.profile_sql("orders", day)).fetchall()
            return oracle.multiset(oracle.rounded(got)) == oracle.multiset(oracle.rounded(want)), (
                f"{len(got)} vs {len(want)} rows"
            )

        c.check("profile equals cumulative aggregate", profile)
        seg_sql = oracle.segments_sql("orders", "sessions", "customers", day)

        def segments() -> tuple[bool, str]:
            cols = "customer_id, region, tier, engagement, segment"
            got = con.sql(f"SELECT {cols} FROM {oracle.read_table(wh, 'crm.mart.segments')}").fetchall()
            want = con.sql(f"SELECT {cols} FROM ({seg_sql})").fetchall()
            return oracle.multiset(got) == oracle.multiset(want), f"{len(got)} vs {len(want)} rows"

        c.check("segments equal recomputed segments", segments)
        want_aud = con.sql(oracle.audiences_sql(seg_sql)).fetchall()

        def audiences() -> tuple[bool, str]:
            cols = "name, segment, members, active_members"
            got = con.sql(f"SELECT {cols} FROM {oracle.read_table(wh, 'crm.mart.audiences')}").fetchall()
            return oracle.multiset(got) == oracle.multiset(want_aud), f"{sorted(got)} vs {sorted(want_aud)}"

        c.check("audience table", audiences)

        def pushes() -> tuple[bool, str]:
            rendered = [
                oracle.render_payload(TEMPLATE, dict(zip(("name", "segment", "members", "active_members"), r)))
                for r in want_aud
            ]
            ins, upd = oracle.expected_audience_diff(rendered, remote_before)
            got_ins = {p["name"] for p in self.transport.inserted}
            got_upd = {p["name"] for _, p in self.transport.updated}
            ok = (got_ins, got_upd) == (ins, upd) and len(self.transport.inserted) == len(ins)
            return ok, f"inserts {sorted(got_ins)} vs {sorted(ins)}; updates {sorted(got_upd)} vs {sorted(upd)}"

        c.check("audience inserts and updates", pushes)
        has_orders = con.sql(f"SELECT COUNT(*) FROM orders WHERE day = {day}").fetchone()[0] > 0
        want_jobs = STATEMENTS_PER_DAY + int(has_orders)
        c.check("JOBS rows equal statements run", lambda: (jobs_recorded == want_jobs, f"{jobs_recorded} vs {want_jobs}"))
