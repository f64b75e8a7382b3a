"""Per-layer metrics of the traced run.

``install`` wraps the calls into each engine layer (and the PySpark
boundary calls the engine makes) with spans; ``cycle_metrics`` turns one
cycle's spans, Spark status-store counters and streaming progress into
the per-layer metric values listed in ``PER_LAYER``.
"""

from __future__ import annotations

import os
import resource

from .trace import Span, Tracer, children_index, self_time, union_length

WORKER_CLASSES = (
    "SparkQueryLauncher",
    "MLTrainer",
    "MLPredictor",
    "ConversionValuesWorker",
    "OutputWorker",
    "BQToMeasurementProtocolGA4",
    "BQScriptExecutor",
    "GA4AudiencesUpdater",
)
SQL_WORKERS = ("SparkQueryLauncher", "BQScriptExecutor")

#: (name, unit, better) of every per-layer metric, in report order
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("pipeline.run_s", "s", "lower"),
    ("pipeline.gap_s", "s", "lower"),
    ("pipeline.jobs", "count", "lower"),
    ("templating.render_ms", "ms", "lower"),
    ("templating.calls", "count", "lower"),
    *[(f"worker.{c}_s", "s", "lower") for c in WORKER_CLASSES],
    ("worker.attempts", "count", "lower"),
    ("dialect.split_ms", "ms", "lower"),
    ("dialect.transpile_ms", "ms", "lower"),
    ("dialect.transpile_calls", "count", "lower"),
    ("dialect.transpile_chars", "count", "lower"),
    ("sql_executor.self_ms", "ms", "lower"),
    ("sql_executor.statements", "count", "lower"),
    ("catalyst.sql_calls", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.input_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("catalog.read_ms", "ms", "lower"),
    ("catalog.reads", "count", "lower"),
    ("catalog.write_s", "s", "lower"),
    ("catalog.writes", "count", "lower"),
    ("catalog.register_ms", "ms", "lower"),
    ("catalog.registers", "count", "lower"),
    ("catalog.record_job_ms", "ms", "lower"),
    ("catalog.record_jobs", "count", "lower"),
    ("catalog.fingerprint_ms", "ms", "lower"),
    ("catalog.fingerprints", "count", "lower"),
    ("catalog.archive_ms", "ms", "lower"),
    ("catalog.archives", "count", "lower"),
    ("catalog.written_mb", "MB", "lower"),
    ("dml.swap_s", "s", "lower"),
    ("dml.swaps", "count", "lower"),
    ("dml.merge_upsert_s", "s", "lower"),
    ("ml.compile_ms", "ms", "lower"),
    ("ml.fit_s", "s", "lower"),
    ("ml.predict_s", "s", "lower"),
    ("ml.model_io_ms", "ms", "lower"),
    ("sink.payloads", "count", "higher"),
    ("sink.batches", "count", "lower"),
    ("sink.mb", "MB", "lower"),
    ("sink.upload_s", "s", "lower"),
    ("sink.duplicate_users", "count", "lower"),
    ("audience.s", "s", "lower"),
    ("audience.inserts", "count", "lower"),
    ("audience.updates", "count", "lower"),
    ("stream.start_ms", "ms", "lower"),
    ("stream.trigger_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.planning_ms", "ms", "lower"),
    ("stream.input_rows", "count", "higher"),
    ("stream.state_rows", "count", "lower"),
    ("stream.state_mb", "MB", "lower"),
    ("proc.jvm_peak_rss_mb", "MB", "lower"),
    ("proc.py_peak_rss_mb", "MB", "lower"),
    ("proc.jvm_cpu_s", "s", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]

MB = 1024 * 1024


def _inodes(path: str) -> dict[int, int]:
    out: dict[int, int] = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.lstat(os.path.join(dirpath, f))
            except OSError:
                continue
            out[st.st_ino] = st.st_size
    return out


class Boundary:
    """What the traced run keeps between the wrappers and the per-cycle
    roll-up: the streaming queries started so far and the Spark job
    groups of the pipelines run in the current cycle."""

    def __init__(self):
        self.queries: list = []
        self.job_groups: list[str] = []


def install(tracer: Tracer, spark, boundary: Boundary) -> None:
    """Wrap every layer boundary. Streaming queries are captured even
    with tracing off: the ingestion output check reads their
    progress."""
    import crmint_spark.catalog as catalog_mod
    import crmint_spark.dialect as dialect
    import crmint_spark.dml as dml
    import crmint_spark.engine as engine
    import crmint_spark.ml.estimators as estimators
    import crmint_spark.pipeline as pipeline
    import crmint_spark.streaming.events as events
    import crmint_spark.workers.ml_workers as ml_workers
    import crmint_spark.workers.sql_executor as sql_executor
    from crmint_spark.workers.base import Worker
    from pyspark.ml.base import Estimator
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    w = tracer.wrap

    # pipeline / engine / templating; the runner tags each job's Spark
    # jobs with the group crmint:<pipeline>:<job>
    orig_run = pipeline.PipelineRunner.run

    def run_and_record(self, pipe):
        result = orig_run(self, pipe)
        boundary.job_groups.extend(f"crmint:{pipe.name}:{j}" for j in pipe.jobs)
        return result

    pipeline.PipelineRunner.run = run_and_record
    w(
        pipeline.PipelineRunner,
        "run",
        "pipeline.run",
        ambient=True,
        on_result=lambda at, a, k, r, s: at.update(jobs=len(a[1].jobs)),
    )
    w(pipeline, "render", "templating.render")
    w(Worker, "execute", lambda a: f"worker.{type(a[0]).__name__}", outer_only=False)

    # dialect: bound by name in the executor at import, and in dialect
    # itself for function-level imports
    for mod in (dialect, sql_executor):
        w(mod, "split_script", "dialect.split")
        w(
            mod,
            "transpile_statement",
            "dialect.transpile",
            on_result=lambda at, a, k, r, s: at.update(chars=len(a[0]) if a else 0),
        )

    # catalog
    cat = catalog_mod.Catalog
    for attr, name in (
        ("read", "catalog.read"),
        ("register", "catalog.register"),
        ("record_job", "catalog.record_job"),
        ("table_fingerprint", "catalog.fingerprint"),
        ("archive_preimage", "catalog.archive"),
    ):
        w(cat, attr, name)

    # bytes written: files in the table directory that were not there
    # before the call (Catalog.write(self, df, table_id), and
    # swap_catalog_table(catalog, table_id, ...))
    def new_bytes(table_arg: int):
        def path(args, kwargs):
            return args[0].path_for(args[table_arg] if len(args) > table_arg else kwargs["table_id"])

        def record(attrs, args, kwargs, result, before):
            after = _inodes(path(args, kwargs))
            attrs["bytes"] = sum(sz for ino, sz in after.items() if ino not in before)

        return {"before": lambda args, kwargs: _inodes(path(args, kwargs)), "on_result": record}

    w(cat, "write", "catalog.write", **new_bytes(2))
    w(dml, "swap_catalog_table", "dml.swap", **new_bytes(1))
    w(dml, "merge_upsert_batch", "dml.merge_upsert")

    # ML
    w(engine.Engine, "register_ml_model", "ml.compile")
    w(Estimator, "fit", "ml.fit")
    for mod in (ml_workers, estimators):
        w(mod, "load_model", "ml.model_io")
    w(estimators, "save_model", "ml.model_io")

    # Catalyst: every statement the engine hands to Spark SQL
    w(SparkSession, "sql", "catalyst.sql")

    # Spark actions: the time a Python caller blocks on the JVM
    df_cls = type(spark.range(1))
    writer_cls = type(spark.range(1).write)
    for attr in ("collect", "count", "toPandas", "isEmpty", "first", "take", "foreachPartition"):
        w(df_cls, attr, "spark.action")
    for attr in ("save", "parquet", "saveAsTable", "insertInto"):
        w(writer_cls, attr, "spark.action")

    # streaming: capture every started query, traced or not
    orig_start = DataStreamWriter.start

    def start_and_capture(self, *a, **k):
        q = orig_start(self, *a, **k)
        boundary.queries.append(q)
        return q

    DataStreamWriter.start = start_and_capture
    w(DataStreamWriter, "start", "stream.start")
    for attr in ("run_merge_upsert", "run_to_table"):
        w(events, attr, "stream.drain", ambient=True)


# -- Spark status store ------------------------------------------------------


class SparkCounters:
    """Job/stage counters from the status store (works with the UI off):
    jobs by job group, stage metrics by ``lastStageAttempt``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.seen: set[int] = set()

    def collect(self, groups: list[str]) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        jobs: list[int] = []
        for g in dict.fromkeys(groups):
            for j in tracker.getJobIdsForGroup(g):
                if j not in self.seen:
                    self.seen.add(j)
                    jobs.append(j)
        out = dict.fromkeys(
            (
                "spark.jobs",
                "spark.stages",
                "spark.tasks",
                "spark.executor_run_s",
                "spark.executor_cpu_s",
                "spark.input_mb",
                "spark.shuffle_write_mb",
                "spark.spill_mb",
            ),
            0.0,
        )
        out["spark.jobs"] = float(len(jobs))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for sid in sorted(stages):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:
                continue  # skipped stage: never attempted
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numTasks()
            out["spark.executor_run_s"] += st.executorRunTime() / 1000.0
            out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.input_mb"] += st.inputBytes() / MB
            out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return out


class CatalystPhases:
    """Catalyst phase times of every query Spark executes while tracing
    is on, from each execution's ``queryExecution().tracker().phases()``.

    ``SparkSession.sql`` returns a DataFrame that the engine usually
    writes through a derived plan, so the returned frame's own tracker
    holds only its analysis; the plan that runs is seen by a
    ``QueryExecutionListener``, which Spark calls on its listener bus
    after every action or command."""

    PHASES = ("analysis", "optimization", "planning")

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.active = False  # set for the cycles being traced
        self.sc = spark.sparkContext
        self.totals = dict.fromkeys(self.PHASES, 0.0)
        ensure_callback_server_started(self.sc._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def _add(self, qe) -> None:
        if not self.active:
            return
        phases = qe.tracker().phases()
        for phase in self.PHASES:
            opt = phases.get(phase)
            if opt.isDefined():
                self.totals[phase] += float(opt.get().durationMs())

    def onSuccess(self, func_name, qe, duration_ns):
        self._add(qe)

    def onFailure(self, func_name, qe, exception):
        self._add(qe)

    def take(self) -> dict[str, float]:
        """The cycle's totals, once the listener bus has delivered every
        event of the cycle; then stops collecting."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.active = False
        out = {f"catalyst.{p}_ms": v for p, v in self.totals.items()}
        self.totals = dict.fromkeys(self.PHASES, 0.0)
        return out


def stream_progress(queries: list) -> dict[str, float]:
    out = dict.fromkeys(
        (
            "stream.trigger_ms",
            "stream.add_batch_ms",
            "stream.planning_ms",
            "stream.input_rows",
            "stream.state_rows",
            "stream.state_mb",
        ),
        0.0,
    )
    for q in queries:
        progress = q.recentProgress or []
        for p in progress:
            d = p.get("durationMs", {}) if isinstance(p, dict) else {}
            out["stream.trigger_ms"] += d.get("triggerExecution", 0)
            out["stream.add_batch_ms"] += d.get("addBatch", 0)
            out["stream.planning_ms"] += d.get("queryPlanning", 0)
            out["stream.input_rows"] += p.get("numInputRows", 0)
        # state at the end of the drain: the last progress with state
        for p in reversed(progress):
            ops = p.get("stateOperators") or []
            if ops:
                out["stream.state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
                out["stream.state_mb"] += sum(o.get("memoryUsedBytes", 0) for o in ops) / MB
                break
    return out


def input_rows(queries: list) -> int:
    return int(sum(p.get("numInputRows", 0) for q in queries for p in (q.recentProgress or [])))


# -- roll-up -------------------------------------------------------------------


def span_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-layer metrics from one cycle's spans."""
    m: dict[str, float] = {}
    kids = children_index(spans)

    def total(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    def count(name: str) -> float:
        return float(sum(1 for s in spans if s.name == name))

    runs = [s for s in spans if s.name == "pipeline.run"]
    m["pipeline.run_s"] = sum(s.end - s.start for s in runs)
    gap = 0.0
    for r in runs:
        jobs = [c for c in kids.get(r.id, []) if c.name.startswith("worker.")]
        gap += (r.end - r.start) - union_length([(c.start, c.end) for c in jobs], r.start, r.end)
    m["pipeline.gap_s"] = gap
    # jobs in the pipelines run; worker.attempts counts every
    # Worker.execute, retries and sub-workers included
    m["pipeline.jobs"] = float(sum((r.attrs or {}).get("jobs", 0) for r in runs))
    m["templating.render_ms"] = total("templating.render") * 1000
    m["templating.calls"] = count("templating.render")
    for cls in WORKER_CLASSES:
        m[f"worker.{cls}_s"] = total(f"worker.{cls}")
    m["worker.attempts"] = float(sum(1 for s in spans if s.name.startswith("worker.")))
    m["dialect.split_ms"] = total("dialect.split") * 1000
    m["dialect.transpile_ms"] = total("dialect.transpile") * 1000
    m["dialect.transpile_calls"] = count("dialect.transpile")
    m["dialect.transpile_chars"] = float(
        sum((s.attrs or {}).get("chars", 0) for s in spans if s.name == "dialect.transpile")
    )
    sql_spans = [s for s in spans if s.name in {f"worker.{c}" for c in SQL_WORKERS}]
    m["sql_executor.self_ms"] = 1000 * sum(self_time(s, kids.get(s.id, [])) for s in sql_spans)
    m["sql_executor.statements"] = count("catalog.record_job")
    m["catalyst.sql_calls"] = count("catalyst.sql")
    for name, metric in (
        ("catalog.read", "read"),
        ("catalog.register", "register"),
        ("catalog.record_job", "record_job"),
        ("catalog.fingerprint", "fingerprint"),
        ("catalog.archive", "archive"),
    ):
        m[f"catalog.{metric}_ms"] = total(name) * 1000
    m["catalog.reads"] = count("catalog.read")
    m["catalog.registers"] = count("catalog.register")
    m["catalog.record_jobs"] = count("catalog.record_job")
    m["catalog.fingerprints"] = count("catalog.fingerprint")
    m["catalog.archives"] = count("catalog.archive")
    m["catalog.write_s"] = total("catalog.write")
    m["catalog.writes"] = count("catalog.write")
    m["catalog.written_mb"] = (
        sum((s.attrs or {}).get("bytes", 0) for s in spans if s.name in ("catalog.write", "dml.swap")) / MB
    )
    m["dml.swap_s"] = total("dml.swap")
    m["dml.swaps"] = count("dml.swap")
    m["dml.merge_upsert_s"] = total("dml.merge_upsert")
    m["ml.compile_ms"] = total("ml.compile") * 1000
    m["ml.fit_s"] = total("ml.fit")
    m["ml.predict_s"] = total("worker.MLPredictor")
    m["ml.model_io_ms"] = total("ml.model_io") * 1000
    m["sink.upload_s"] = total("worker.BQToMeasurementProtocolGA4")
    m["audience.s"] = total("worker.GA4AudiencesUpdater")
    m["stream.start_ms"] = total("stream.start") * 1000
    return m


def process_metrics(spark) -> dict[str, float]:
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    out = {"proc.jvm_peak_rss_mb": 0.0, "proc.jvm_cpu_s": 0.0}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    out["proc.jvm_peak_rss_mb"] = int(line.split()[1]) / 1024
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        out["proc.jvm_cpu_s"] = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    except OSError:
        pass
    out["proc.py_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return out
