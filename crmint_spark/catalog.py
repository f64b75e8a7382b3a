"""Table-name mapping + testdata registration.

The reference addresses tables as ``project.dataset.table``
(ref: backend/jobs/workers/bigquery/bq_worker.py:61-66). Here a
``Catalog`` maps those 3-part names onto parquet directories under a
warehouse root, registering them as temp views so both the DataFrame API
and ``spark.sql`` resolve them.
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _parquet_dir_stats(d: str) -> tuple[int, int]:
    """(total_rows, total_bytes) of every parquet file under ``d`` —
    footer metadata only (pyarrow), no Spark job. Cost: one small read
    per file; the INFORMATION_SCHEMA.PARTITIONS contract is metadata,
    exactly like BigQuery's."""
    import pyarrow.parquet as pq

    rows = 0
    size = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(root, f)
            try:
                rows += pq.ParquetFile(fp).metadata.num_rows
            except Exception:
                continue
            size += os.path.getsize(fp)
    return rows, size


def _dir_has_parquet(path: str) -> bool:
    """Any parquet footer under ``path`` (cheap walk, early exit) —
    empty layout tables have none and must read via the schema
    sidecar."""
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _link_tree(src: str, dst: str) -> None:
    """Replicate a parquet directory tree by hardlinking every file
    (``os.link`` — metadata cost only); per-file copy fallback for
    filesystems without link support (e.g. cross-device mounts)."""
    import shutil

    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(out, f)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def purge_index_entries(idx: dict | None, table_id: str) -> None:
    """Remove every SEARCH/VECTOR index entry whose base table names
    ``table_id`` (trailing-segment match — over-purge only costs the
    index; the exact path is always correct). Shared by
    ``Catalog.purge_indexes`` and the executor's rebind-DDL
    invalidation for session-view bases (review finding r9: a CREATE
    OR REPLACE TEMP VIEW rebind left the dead snapshot routable)."""
    if not idx:
        return
    segs = [s for s in table_id.strip("`").lower().split(".") if s]

    def _same(entry_table: str) -> bool:
        es = [
            s for s in str(entry_table).strip("`").lower().split(".") if s
        ]
        if not es:
            return False
        k = min(len(es), len(segs))
        return es[-k:] == segs[-k:]

    for name in [n for n, e in idx.items() if _same(e.get("table", ""))]:
        idx.pop(name, None)


def _name_in_dataset(
    name, project: str, dataset: str, owner_project: str | None = None
) -> bool:
    """Does an object NAME belong to a (project, dataset) metadata
    scope? 3-part names must match both; dataset-qualified 2-part
    names match the dataset AND the dataset's unique owning project
    (``owner_project``, resolved by the caller like dataset-only
    qualifiers are — without it a 2-part record listed under EVERY
    project owning a same-named dataset, round-11 advisory, the same
    cross-scope phantom-row leak the round-10 finding fixed for
    1-part names); dataset-LESS (1-part session) names belong to no
    dataset view. Shared by the TABLES mview-type filter and
    MATERIALIZED_VIEWS so the two can never disagree."""
    parts = str(name).strip("`").split(".")
    if len(parts) == 3:
        return (parts[0], parts[1]) == (project, dataset)
    if len(parts) == 2:
        return parts[0] == dataset and owner_project == project
    return False


def _safe_view_name(table_id: str) -> str:
    """``proj.ds.tbl`` -> ``proj__ds__tbl`` (temp views are single-part)."""
    return re.sub(r"[^A-Za-z0-9_]", "_", table_id.replace(".", "__"))


def _bq_type_name(dt) -> str:
    """Spark type -> BigQuery INFORMATION_SCHEMA.COLUMNS spelling."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{_bq_type_name(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {_bq_type_name(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT<{inner}>"
    if isinstance(dt, T.DecimalType):
        # engine convention: NUMERIC=DECIMAL(38,9), BIGNUMERIC=DECIMAL(38,18)
        return "BIGNUMERIC" if dt.scale > 9 else "NUMERIC"
    simple = {
        "tinyint": "INT64",
        "smallint": "INT64",
        "int": "INT64",
        "bigint": "INT64",
        "float": "FLOAT64",
        "double": "FLOAT64",
        "string": "STRING",
        "boolean": "BOOL",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "DATETIME",
        "binary": "BYTES",
    }
    return simple.get(dt.simpleString(), dt.simpleString().upper())


def tune_session(spark: SparkSession) -> None:
    """Apply the engine's runtime-settable tuning to a caller-provided
    session, touching only confs still at their stock defaults (a
    session built by ``crmint_spark.session.get_spark`` already has
    these; a vanilla driver session gets 200 shuffle partitions and no
    AQE coalescing, which wastes 6x scheduling overhead at test scale).
    """
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    except Exception:
        pass  # read-only conf service (e.g. Connect) — run as-is


def register_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every driver testdata parquet as a temp view by bare name."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = load(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


# (session id, sf_dir, table, file mtime_ns, file size) -> DataFrame.
# The testdata parquet is immutable within a run, so the resolved reader
# plan (file listing + footer schema, ~0.5 s each) is reusable across
# queries in a session; without this a 24-query bench pays the listing
# 24+ times. The stat components invalidate the entry when the file is
# regenerated in-process (the driver rebuilds testdata between rounds),
# and stopped-session entries are evicted on the next miss so a cached
# DataFrame can't pin a dead SparkSession alive.
_LOAD_CACHE: dict[tuple[int, str, str, int, int], DataFrame] = {}

#: (session id, table path) -> (table fingerprint, inferred schema).
#: Catalog.read's footer-inference memo — schema only, invalidated by
#: the fingerprint on any directory swap/truncate (see read()).
_READ_SCHEMA_CACHE: dict[tuple[int, str], tuple[str, object]] = {}


def _prime_read_schema_cache(key, fp: str, schema) -> None:
    """Insert with the same 256-entry FIFO bound read() enforces —
    write-path priming must not grow the memo unboundedly (ADVICE r11).
    Replacing an existing key does not grow the dict, so it must not
    evict an unrelated table's verified entry (r12 review: a hot
    multi-table DML workload at the bound re-primes its own keys
    constantly — each re-prime was costing some OTHER table a ~0.3 s
    footer re-inference on its next read)."""
    if key not in _READ_SCHEMA_CACHE:
        while len(_READ_SCHEMA_CACHE) >= 256:
            _READ_SCHEMA_CACHE.pop(next(iter(_READ_SCHEMA_CACHE)))
    _READ_SCHEMA_CACHE[key] = (fp, schema)


def _as_read_nullable(dt):
    """A datatype with every (nested) field nullable — what a parquet
    read-back infers regardless of the written frame's nullability.
    Used to prime the schema memo from a just-written frame without
    leaking writer-side non-null flags into reads (INFORMATION_SCHEMA
    is_nullable is a value-checked surface)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_read_nullable(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_read_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _as_read_nullable(dt.keyType), _as_read_nullable(dt.valueType), True
        )
    return dt


def _session_stopped(df: DataFrame) -> bool:
    try:
        sc = df.sparkSession.sparkContext
        return sc._jsc is None or sc._jsc.sc().isStopped()
    except Exception:
        return True


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's reader only
    accepts as int64 (``spark.sql.legacy.parquet.nanosAsLong``); convert
    to a proper micros timestamp here so every consumer sees TimestampType
    (matching DuckDB's micros truncation of the same values).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    try:
        st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
        mtime_ns, size = st.st_mtime_ns, st.st_size
    except OSError:
        mtime_ns, size = -1, -1
    key = (id(spark), sf_dir, name, mtime_ns, size)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    # miss: evict superseded versions of this table and any entry whose
    # session has been stopped (both would otherwise leak)
    for k in [
        k
        for k, v in _LOAD_CACHE.items()
        if k[:3] == (id(spark), sf_dir, name) or _session_stopped(v)
    ]:
        _LOAD_CACHE.pop(k, None)
    tune_session(spark)
    if name == "events":
        # runtime-settable; required for TIMESTAMP(NANOS) parquet even
        # under a caller-provided session that didn't set it at build time
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long")))
    _LOAD_CACHE[key] = df
    return df


class Catalog:
    """BigQuery-style 3-part name catalog over a parquet warehouse.

    Replaces the reference's implicit BigQuery catalog: tables are
    parquet dirs at ``<root>/<project>/<dataset>/<table>``; write
    dispositions map to Spark save modes
    (ref: bq_query_launcher.py:44-47, storage_to_bq_importer.py:71-79).
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        time_travel_hours: float = 168.0,
    ):
        self.spark = spark
        self.root = warehouse_root
        # FOR SYSTEM_TIME AS OF retention window (BigQuery's
        # max_time_travel_hours contract: 7-day default). Versions
        # whose mutation instant falls out of the window are pruned on
        # the next archive (and by vacuum_versions); as-of requests
        # beyond it error like pre-creation instants do.
        self.time_travel_hours = time_travel_hours
        # (project, dataset) -> {table_name: view_name} for shard tables
        # registered as views rather than parquet dirs (zero-copy shards
        # over an already-loaded DataFrame)
        self._virtual: dict[tuple[str, str], dict[str, str]] = {}
        # wildcard table_id ("p.d.events_*") -> already-materialized view
        # name (the partitioned-table scale path registers here so SQL
        # wildcard scans partition-prune instead of unioning shards)
        self._wildcard_views: dict[str, str] = {}
        # (project, dataset) -> {view_name: definition SQL} recorded by
        # the executor's CREATE VIEW path, served by
        # INFORMATION_SCHEMA.VIEWS and as table_type='VIEW' in .TABLES
        self._view_defs: dict[tuple[str, str], dict[str, str]] = {}
        # unenforced PRIMARY KEY / FOREIGN KEY declarations (BigQuery's
        # NOT ENFORCED constraints): table_id -> {"pk": [cols],
        # "fks": {name: {cols, ref_table, ref_cols}}}. Served by
        # INFORMATION_SCHEMA.TABLE_CONSTRAINTS / KEY_COLUMN_USAGE and
        # consumed by the executor's join-elimination rewrite.
        self._constraints: dict[str, dict] = {}
        # jobs plane: one dict per executed statement (the executor's
        # _record_job), served by INFORMATION_SCHEMA.JOBS. DURABLE
        # (VERDICT r8 #6 — BigQuery retains job history ~180 days):
        # every row also appends to <root>/__jobs__/jobs.jsonl, and a
        # fresh Catalog over the same root resumes the history and the
        # job-id sequence. Retention stays JOBS_RETENTION_MAX rows.
        self._jobs: list[dict] = []
        self._jobs_lock = threading.Lock()
        # table directory -> lock serialising its writers: parallel
        # pipeline branches share one Catalog, and two appends to one
        # directory would share Spark's _temporary staging and race the
        # pre-image archive's version-dir pick
        self._table_locks: dict[str, threading.RLock] = {}
        self._job_seq = 0
        os.makedirs(warehouse_root, exist_ok=True)
        self._jobs_path = os.path.join(
            warehouse_root, "__jobs__", "jobs.jsonl"
        )
        self._jobs_file_lines = 0
        self._load_jobs()

    # -- unenforced key constraints (BigQuery PRIMARY KEY / FOREIGN KEY
    # -- ... NOT ENFORCED; the engine trusts declarations exactly as
    # -- BigQuery does — a false declaration changes join-elimination
    # -- results there too)

    def set_primary_key(self, table_id: str, cols: list[str]) -> None:
        self._check_constraint_cols(table_id, cols, "PRIMARY KEY")
        rec = self._constraints.setdefault(table_id, {"fks": {}})
        if rec.get("pk"):
            raise ValueError(
                f"table {table_id} already has a primary key"
            )
        rec["pk"] = list(cols)

    def drop_primary_key(self, table_id: str) -> None:
        rec = self._constraints.get(table_id) or {}
        if not rec.get("pk"):
            raise ValueError(f"table {table_id} has no primary key")
        rec.pop("pk", None)

    def add_foreign_key(
        self,
        table_id: str,
        name: str | None,
        cols: list[str],
        ref_table: str,
        ref_cols: list[str],
    ) -> str:
        self._check_constraint_cols(table_id, cols, "FOREIGN KEY")
        self._check_constraint_cols(ref_table, ref_cols, "REFERENCES")
        if len(cols) != len(ref_cols):
            raise ValueError(
                "FOREIGN KEY column count does not match REFERENCES"
            )
        rec = self._constraints.setdefault(table_id, {"fks": {}})
        name = name or f"fk${len(rec['fks']) + 1}"
        if name in rec["fks"]:
            raise ValueError(f"constraint {name!r} already exists")
        rec["fks"][name] = {
            "cols": list(cols),
            "ref_table": ref_table,
            "ref_cols": list(ref_cols),
        }
        return name

    def drop_constraint(self, table_id: str, name: str) -> None:
        rec = self._constraints.get(table_id) or {"fks": {}}
        if name not in rec["fks"]:
            raise ValueError(
                f"table {table_id} has no constraint {name!r}"
            )
        del rec["fks"][name]

    def primary_key(self, table_id: str) -> list[str] | None:
        return (self._constraints.get(table_id) or {}).get("pk")

    def foreign_keys(self, table_id: str) -> dict:
        return (self._constraints.get(table_id) or {}).get("fks", {})

    def clear_constraints(self, table_id: str) -> None:
        """A drop/replace invalidates the declarations (and any FK
        pointing AT the dropped table — a dangling reference would let
        join elimination fire against a recreated, different table)."""
        self._constraints.pop(table_id, None)
        for rec in self._constraints.values():
            rec["fks"] = {
                n: fk
                for n, fk in rec["fks"].items()
                if fk["ref_table"] != table_id
            }

    def rename_constraints(self, old_id: str, new_id: str) -> None:
        """ALTER TABLE RENAME TO: constraints travel with the table
        (BigQuery contract), and every FK referencing the old name is
        re-pointed — a stale entry under the old name would attach to
        whatever table is created there next (review finding r8)."""
        rec = self._constraints.pop(old_id, None)
        if rec is not None:
            self._constraints[new_id] = rec
        for other in self._constraints.values():
            for fk in other.get("fks", {}).values():
                if fk["ref_table"] == old_id:
                    fk["ref_table"] = new_id

    def rename_constraint_column(
        self, table_id: str, old: str, new: str
    ) -> None:
        """ALTER TABLE RENAME COLUMN: key declarations follow the
        column (otherwise the DROP COLUMN guard is bypassable and a
        later ADD COLUMN under the old name silently re-anchors the
        key — review finding r8)."""
        rec = self._constraints.get(table_id)
        if rec:
            if rec.get("pk"):
                rec["pk"] = [new if c == old else c for c in rec["pk"]]
            for fk in rec.get("fks", {}).values():
                fk["cols"] = [new if c == old else c for c in fk["cols"]]
        for other in self._constraints.values():
            for fk in other.get("fks", {}).values():
                if fk["ref_table"] == table_id:
                    fk["ref_cols"] = [
                        new if c == old else c for c in fk["ref_cols"]
                    ]

    def constrained_columns(self, table_id: str) -> set:
        """Every column of ``table_id`` named by a live constraint —
        ALTER DROP COLUMN refuses these (BigQuery errors there too)."""
        rec = self._constraints.get(table_id) or {}
        out = set(rec.get("pk") or [])
        for fk in rec.get("fks", {}).values():
            out |= set(fk["cols"])
        for other in self._constraints.values():
            for fk in other.get("fks", {}).values():
                if fk["ref_table"] == table_id:
                    out |= set(fk["ref_cols"])
        return out

    def _check_constraint_cols(
        self, table_id: str, cols: list[str], kind: str
    ) -> None:
        if not cols:
            raise ValueError(f"{kind}: empty column list")
        have = {f.name for f in self.read(table_id).schema.fields}
        missing = [c for c in cols if c not in have]
        if missing:
            raise ValueError(
                f"{kind} on {table_id}: unknown column(s) {missing}"
            )

    #: retention cap on the in-memory jobs plane (BigQuery's JOBS view
    #: is itself retention-bounded to 180 days): a long-lived Engine
    #: records one row per executed statement, so without a cap the
    #: list and every INFORMATION_SCHEMA.JOBS rebuild grow without
    #: bound. Oldest rows drop first; ids keep increasing.
    JOBS_RETENTION_MAX = 100_000

    def record_job(self, row: dict) -> str:
        """Append one job-history row (INFORMATION_SCHEMA.JOBS); returns
        the assigned job id (served back as ``@@last_job_id``). The
        deterministic ordinal job id is assigned under a lock —
        Engine shares one Catalog across a thread pool, and a
        len-then-append race would mint duplicate ids. 12-digit zero
        padding keeps lexicographic ORDER BY job_id equal to execution
        order far past any realistic job count."""
        import json

        with self._jobs_lock:
            self._job_seq += 1
            job_id = f"script_job_{self._job_seq:012d}"
            rec = {**row, "job_id": job_id}
            self._jobs.append(rec)
            if len(self._jobs) > self.JOBS_RETENTION_MAX:
                del self._jobs[: -self.JOBS_RETENTION_MAX]
            # durable append (metadata-bounded: one JSON line per user
            # statement); compact when the file holds 2x retention
            try:
                os.makedirs(os.path.dirname(self._jobs_path), exist_ok=True)
                with open(self._jobs_path, "a", encoding="utf-8") as f:
                    f.write(json.dumps(rec, default=str) + "\n")
                self._jobs_file_lines += 1
                if self._jobs_file_lines > 2 * self.JOBS_RETENTION_MAX:
                    self._compact_jobs_file()
            except OSError:
                pass  # read-only root: history stays in-memory only
            return job_id

    def _load_jobs(self) -> None:
        """Resume durable job history (and the ordinal id sequence) from
        ``<root>/__jobs__/jobs.jsonl`` — BigQuery's job history survives
        sessions; the engine's survives Engine/Catalog restarts over the
        same warehouse root. Malformed lines are skipped (a crash mid-
        append loses at most its own line)."""
        import json

        if not os.path.isfile(self._jobs_path):
            return
        rows: list[dict] = []
        n_lines = 0
        with open(self._jobs_path, encoding="utf-8") as f:
            for line in f:
                n_lines += 1
                line = line.strip()
                if not line:
                    continue
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                if isinstance(rec, dict) and rec.get("job_id"):
                    rows.append(rec)
        rows = rows[-self.JOBS_RETENTION_MAX :]
        self._jobs = rows
        self._jobs_file_lines = n_lines
        for rec in rows:
            m = re.match(r"script_job_(\d+)$", str(rec["job_id"]))
            if m:
                self._job_seq = max(self._job_seq, int(m.group(1)))

    def _compact_jobs_file(self) -> None:
        """Rewrite the jobs file down to the retained rows (atomic
        replace; called under the jobs lock)."""
        import json

        tmp = self._jobs_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            for rec in self._jobs:
                f.write(json.dumps(rec, default=str) + "\n")
        os.replace(tmp, self._jobs_path)
        self._jobs_file_lines = len(self._jobs)

    def path_for(self, table_id: str) -> str:
        parts = table_id.split(".")
        if len(parts) > 3:
            raise ValueError(f"bad table id: {table_id}")
        return os.path.join(self.root, *parts)

    def table_lock(self, table_id: str) -> threading.RLock:
        """The lock every writer of ``table_id``'s directory holds
        (``write`` and the DML swap); re-entrant, so a writer may call
        back into another locked write of the same table."""
        # dict.setdefault is atomic: racing first callers get one lock
        return self._table_locks.setdefault(
            self.path_for(table_id), threading.RLock()
        )

    def exists(self, table_id: str) -> bool:
        p = self.path_for(table_id)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def read(self, table_id: str) -> DataFrame:
        """Resolve a 3-part name to its parquet dir, else to the session
        catalog / temp view it was registered under. The fallback is
        what lets a CTAS from ``SparkSQLExecutor`` (which lands in the
        Spark session catalog, not the parquet tree) feed a downstream
        worker in the same pipeline — in the reference both are the
        same BigQuery table (ref: bq_worker.py:61-66). Partitioned /
        clustered tables (``PARTITION BY`` DDL — see ``layout_meta``)
        come back with their USER-VISIBLE schema: the derived partition
        column is dropped and the declared column order restored. An
        EMPTY layout table (TRUNCATE / full partition expiration leaves
        no parquet footers to infer from) reads through the schema
        sidecar recorded at write time."""
        if self.exists(table_id):
            path = self.path_for(table_id)
            meta = self.layout_meta(table_id)
            if meta and not _dir_has_parquet(path):
                return self._empty_layout_df(meta)
            # schema memo keyed on the table fingerprint: re-inferring
            # the schema from footers costs ~0.2-0.4 s per read on a
            # many-partition directory and every DML statement re-reads
            # its target (r11, guide §1). Only the SCHEMA is memoized —
            # data reads always hit the live files — and any swap/
            # truncate replaces the directory, changing the
            # fingerprint; appends never change the schema.
            fp = self.table_fingerprint(table_id)
            key = (id(self.spark), path)
            hit = _READ_SCHEMA_CACHE.get(key)
            if fp is not None and hit is not None and hit[0] == fp:
                df = self.spark.read.schema(hit[1]).parquet(path)
            else:
                df = self.spark.read.parquet(path)
                if fp is not None:
                    _prime_read_schema_cache(key, fp, df.schema)
            return self.restore_layout(df, meta)
        view = _safe_view_name(table_id)
        try:
            return self.spark.table(view)
        except Exception:
            raise ValueError(f"table not found: {table_id}") from None

    def register(self, table_id: str) -> str:
        """Make the table resolvable from SQL; returns the view name."""
        view = _safe_view_name(table_id)
        self.read(table_id).createOrReplaceTempView(view)
        return view

    # ------------------------------------------------------------------
    # Physical layout metadata (PARTITION BY / CLUSTER BY on CREATE
    # TABLE — the reference's pipelines run these BigQuery DDL clauses
    # verbatim; ref: model_bqml.sql:91-94 relies on date-shaped layouts
    # for exactly this pruning).
    #
    # A table with layout metadata is stored hive-partitioned
    # (``<path>/<pcol>=<value>/part-*.parquet``). For an IDENTITY
    # partition spec (a bare DATE column) the real column is the
    # partition key — date filters partition-prune natively through
    # Catalyst. For a DERIVED spec (``DATE(ts)``, ``DATE_TRUNC``,
    # ``TIMESTAMP_TRUNC``, ``RANGE_BUCKET``) a hidden ``__pk`` column
    # carries the derived value; ``read``/``register`` hide it, and the
    # executor's partition-scan routing injects ``__pk`` conjuncts
    # derived from user predicates so the scan prunes. CLUSTER BY
    # columns are range-repartitioned + sorted within partitions so
    # parquet row-group min/max stats serve cluster-key filters.
    # The metadata lives OUTSIDE the table directory
    # (``<root>/__layouts__/<safe>.json``) so WRITE_TRUNCATE keeps the
    # layout (BigQuery: writing to a partitioned table preserves
    # partitioning) while DROP/recreate clears it.
    # ------------------------------------------------------------------

    #: BigQuery's per-table partition limit — enforced after layout
    #: writes (listdir count, no data pass). A violation raises; the
    #: caller decides whether to roll back (CREATE does).
    max_partitions = 4000

    def _layout_meta_path(self, table_id: str) -> str:
        return os.path.join(
            self.root, "__layouts__", _safe_view_name(table_id) + ".json"
        )

    def layout_meta(
        self, table_id: str, include_stash: bool = True
    ) -> dict | None:
        import json

        if table_id.count(".") > 2:
            return None  # INFORMATION_SCHEMA.* and other >3-part names
        p = self._layout_meta_path(table_id)
        if not os.path.isfile(p) and not include_stash:
            return None
        if not os.path.isfile(p):
            # dropped layout tables keep a stash beside their version
            # store so FOR SYSTEM_TIME AS OF reads still restore the
            # user-visible schema. The stash NEVER applies to a live
            # table (a post-drop recreate may be unpartitioned);
            # recreation also resets the version root and the stash.
            if self.exists(table_id):
                return None
            p = os.path.join(self._versions_root(table_id), ".layout.json")
            if not os.path.isfile(p):
                return None
        with open(p) as f:
            return json.load(f)

    def set_layout_meta(self, table_id: str, meta: dict) -> None:
        import json

        p = self._layout_meta_path(table_id)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            json.dump(meta, f, indent=1)

    def clear_layout_meta(self, table_id: str) -> None:
        import shutil

        p = self._layout_meta_path(table_id)
        if os.path.isfile(p):
            vroot = self._versions_root(table_id)
            if os.path.isdir(vroot):
                shutil.copy2(p, os.path.join(vroot, ".layout.json"))
            os.remove(p)

    def has_layouts(self) -> bool:
        d = os.path.join(self.root, "__layouts__")
        return os.path.isdir(d) and bool(os.listdir(d))

    # ------------------------------------------------------------------
    # Table options (BigQuery CREATE/ALTER TABLE OPTIONS(...)). Two of
    # them have an ENGINE plane here: ``require_partition_filter``
    # (scan guard — the executor refuses unfiltered queries/DML over
    # the table) and ``partition_expiration_days`` (partition GC at
    # mutation/vacuum time). Everything else (description, labels,
    # friendly_name, expiration_timestamp) is stored metadata served
    # through INFORMATION_SCHEMA.TABLE_OPTIONS. Stored OUTSIDE the
    # table directory (``<root>/__table_options__/<safe>.json``) so
    # copy-on-write swaps keep them; DROP clears them, CLONE copies
    # them (BigQuery contract).
    # ------------------------------------------------------------------

    def _options_path(self, table_id: str) -> str:
        return os.path.join(
            self.root, "__table_options__", _safe_view_name(table_id) + ".json"
        )

    def table_options(self, table_id: str) -> dict:
        import json

        p = self._options_path(table_id)
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return json.load(f).get("options", {})

    def set_table_options(self, table_id: str, opts: dict) -> None:
        """Merge ``opts`` into the stored options; a None value clears
        that option (BigQuery ``option = NULL`` semantics). The file
        records the real table id — safe names are lossy for tables
        whose own name contains a double underscore."""
        import json

        cur = self.table_options(table_id)
        for k, v in opts.items():
            if v is None:
                cur.pop(k, None)
            else:
                cur[k] = v
        p = self._options_path(table_id)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            json.dump({"table_id": table_id, "options": cur}, f, indent=1)

    def clear_table_options(self, table_id: str) -> None:
        p = self._options_path(table_id)
        if os.path.isfile(p):
            os.remove(p)

    # -- column DEFAULT expressions (BigQuery DDL ``col T DEFAULT e``) --

    def _defaults_path(self, table_id: str) -> str:
        return os.path.join(
            self.root,
            "__column_defaults__",
            _safe_view_name(table_id) + ".json",
        )

    def column_defaults(self, table_id: str) -> dict:
        """Column name -> Spark-spelling default expression (transpiled
        at DDL time); {} when the table declares none."""
        import json

        p = self._defaults_path(table_id)
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return json.load(f).get("defaults", {})

    def set_column_defaults(self, table_id: str, defaults: dict) -> None:
        """Replace the stored defaults wholesale (a CREATE OR REPLACE
        defines the complete new set); empty dict clears the sidecar."""
        import json

        p = self._defaults_path(table_id)
        if not defaults:
            if os.path.isfile(p):
                os.remove(p)
            return
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            json.dump({"table_id": table_id, "defaults": defaults}, f, indent=1)

    def clear_column_defaults(self, table_id: str) -> None:
        p = self._defaults_path(table_id)
        if os.path.isfile(p):
            os.remove(p)

    def has_table_options(self) -> bool:
        d = os.path.join(self.root, "__table_options__")
        return os.path.isdir(d) and bool(os.listdir(d))

    def expire_partitions(self, table_id: str, today=None) -> int:
        """``partition_expiration_days`` GC: drop partition directories
        whose DATE value is more than N days old (time-partitioned
        layouts only — BigQuery's own restriction). The pre-image
        archives first, so FOR SYSTEM_TIME AS OF still serves expired
        rows inside the retention window. Runs at mutation points and
        from the StorageCleaner vacuum hook — BigQuery expires
        continuously, this engine at maintenance points (documented).
        ``today`` is injectable for tests. Returns dirs dropped."""
        import datetime as _dt
        import shutil
        from urllib.parse import unquote

        days = self.table_options(table_id).get("partition_expiration_days")
        meta = self.layout_meta(table_id)
        if days is None or not meta or not meta.get("pcol"):
            return 0
        if meta.get("kind") == "range_bucket":
            return 0  # integer-range layouts never expire (BigQuery)
        path = self.path_for(table_id)
        if not os.path.isdir(path):
            return 0
        today = today or _dt.date.today()
        cutoff = today - _dt.timedelta(days=float(days))
        expired = []
        for d in os.listdir(path):
            if not d.startswith(meta["pcol"] + "="):
                continue
            val = unquote(d.split("=", 1)[1])
            if val == "__HIVE_DEFAULT_PARTITION__":
                continue  # NULL partition never expires
            try:
                pdate = _dt.date.fromisoformat(val[:10])
            except ValueError:
                continue
            if pdate < cutoff:
                expired.append(d)
        if not expired:
            return 0
        self.archive_preimage(table_id)
        for d in expired:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
        self.register(table_id)
        return len(expired)

    def vacuum_expired_partitions(self) -> int:
        """Maintenance sweep across every table carrying
        ``partition_expiration_days`` (StorageCleaner hook — tables no
        longer being written never hit the mutation-point GC)."""
        import json

        d = os.path.join(self.root, "__table_options__")
        if not os.path.isdir(d):
            return 0
        dropped = 0
        for f in os.listdir(d):
            with open(os.path.join(d, f)) as fh:
                table_id = json.load(fh).get("table_id")
            if table_id and self.exists(table_id):
                dropped += self.expire_partitions(table_id)
        return dropped

    def vacuum_expired_tables(self) -> int:
        """Drop tables whose ``expiration_timestamp`` has passed
        (BigQuery deletes at expiration; this engine at maintenance
        points — the StorageCleaner hook — which is the documented
        divergence). The normalized instant is recorded at option-set
        time (``expiration_timestamp_us``); the pre-image archives via
        the normal drop path, so time travel serves the final state
        inside the retention window. Returns tables dropped."""
        import json
        import time

        d = os.path.join(self.root, "__table_options__")
        if not os.path.isdir(d):
            return 0
        now_us = time.time_ns() // 1000
        dropped = 0
        for f in list(os.listdir(d)):
            with open(os.path.join(d, f)) as fh:
                rec = json.load(fh)
            table_id = rec.get("table_id")
            exp = rec.get("options", {}).get("expiration_timestamp_us")
            if (
                table_id
                and exp is not None
                and int(exp) < now_us
                and self.exists(table_id)
            ):
                self.drop(table_id)
                dropped += 1
        return dropped

    def restore_layout(self, df: DataFrame, meta: dict | None) -> DataFrame:
        """User-visible schema of a layout table's raw parquet read:
        drop the derived partition column, restore declared column
        order, and pin an identity partition column back to its
        declared type (partition-value inference yields DATE for date
        dirs, but the cast is cheap insurance)."""
        from pyspark.sql import functions as F

        if not meta:
            return df
        cols = []
        for c in meta["columns"]:
            e = F.col(f"`{c}`")
            if c == meta.get("source_col") and meta["kind"] == "identity":
                e = e.cast(meta["source_type"]).alias(c)
            cols.append(e)
        return df.select(*cols)

    def _empty_layout_df(self, meta: dict, with_pcol: bool = False) -> DataFrame:
        """Zero-row DataFrame in a layout table's user-visible schema,
        built from the sidecar recorded at write time (an empty
        hive-partitioned directory has no footers OR partition dirs to
        infer from). ``with_pcol`` appends the derived partition column
        (NULL-typed) for raw-layout consumers."""
        import json

        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        sj = meta.get("schema_json")
        if not sj:
            raise ValueError(
                f"table {meta.get('table_id')} is empty and predates the"
                " layout schema sidecar — rewrite it to restore reads"
            )
        df = self.spark.createDataFrame(
            [], StructType.fromJson(json.loads(sj))
        )
        pcol = meta.get("pcol")
        if with_pcol and pcol and pcol not in df.columns:
            ptype = "bigint" if meta.get("kind") == "range_bucket" else "date"
            df = df.withColumn(pcol, F.lit(None).cast(ptype))
        return df

    def apply_layout(self, df: DataFrame, meta: dict) -> DataFrame:
        """Write-side shape: derive the partition column when the spec
        is an expression, then range-repartition on (partition, cluster
        keys) and sort within partitions. Range partitioning splits a
        hot partition across tasks (sampling-based) instead of funneling
        each date into one writer — the skew-safe shape at 100 TB — and
        the sort gives parquet row-group min/max locality on the
        cluster keys.

        The range-partition COUNT is deliberately left to Spark: a
        column-only ``repartitionByRange`` is AQE-coalescable, so the
        post-shuffle partition count adapts to the data's byte size at
        any scale (measured r12: an explicit plan-stats-derived count
        produced the same file layout but serialized small writes —
        A/B in OPTIMIZATION_r12.md, rejected)."""
        from pyspark.sql import functions as F

        pcol = meta.get("pcol")
        if pcol and meta["kind"] != "identity":
            if pcol in df.columns:
                raise ValueError(
                    f"column name {pcol!r} is reserved for the partition"
                    " layout"
                )
            df = df.withColumn(pcol, F.expr(meta["pexpr_spark"]))
        keys = ([pcol] if pcol else []) + list(meta.get("cluster_cols", []))
        if keys:
            cols = [F.col(f"`{k}`") for k in keys]
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        return df

    def layout_writer(self, df: DataFrame, meta: dict | None, stats_hook=None):
        """DataFrameWriter honoring the table's layout (plain writer
        when the table has none). ``stats_hook`` (DML statistics plane)
        attaches an Observation + drops its flag columns ABOVE the
        layout shaping: ``apply_layout``'s repartitionByRange samples
        range boundaries with an extra scan of its child, so an
        Observation placed below the exchange would accumulate every
        metric twice."""
        if not meta:
            df2 = stats_hook(df) if stats_hook is not None else df
            return df2.write
        shaped = self.apply_layout(df, meta)
        if stats_hook is not None:
            shaped = stats_hook(shaped)
        w = shaped.write
        if meta.get("pcol"):
            w = w.partitionBy(meta["pcol"])
        return w

    def check_partition_cap(
        self, table_id: str, path: str | None = None
    ) -> int:
        """Enforce BigQuery's 4,000-partition-per-table cap — a listdir
        count, no data pass. ``path`` lets callers check a STAGED
        directory before swapping it live (the DML plane does: a
        violating mutation then raises with the table untouched —
        review finding r8). Returns the partition count; raises beyond
        the cap (the partition-count explosion failure mode:
        partitioning on a near-unique key)."""
        meta = self.layout_meta(table_id)
        pcol = (meta or {}).get("pcol")
        if not pcol:
            return 0
        p = path or self.path_for(table_id)
        n = sum(
            1 for d in os.listdir(p) if d.startswith(pcol + "=")
        ) if os.path.isdir(p) else 0
        if n > self.max_partitions:
            raise ValueError(
                f"table {table_id} would have {n} partitions — over the"
                f" {self.max_partitions} cap (BigQuery parity). Use a"
                " coarser PARTITION BY expression."
            )
        return n

    def rekey_read_schema_memo(
        self, table_id: str, pre_fp: str | None, written_schema, meta
    ) -> None:
        """Carry a VERIFIED read-schema memo entry across a
        schema-preserving write (append or copy-on-write swap): every
        DML statement otherwise pays ~0.3-0.4 s re-inferring an
        unchanged footer schema right after mutating the table (r12,
        guide §1 — the dominant fixed cost of the DML plane at sf0.1,
        and a real driver-side cost at any scale). Only fires when the
        pre-write entry was still current (fingerprint match) AND the
        written frame's fields equal the memoized ones by name and type
        (partition column aside — it lives in directory names, not
        footers); anything else falls back to footer inference on the
        next read."""
        key = (id(self.spark), self.path_for(table_id))
        hit = _READ_SCHEMA_CACHE.get(key)
        if hit is None or pre_fp is None or hit[0] != pre_fp:
            return
        pcol = (meta or {}).get("pcol")

        def core(schema):
            # __dml_* flags are Observation inputs the stats hook drops
            # before the write reaches storage; the partition column
            # lives in directory names, not footers
            return [
                (f.name, _as_read_nullable(f.dataType))
                for f in schema.fields
                if f.name != pcol and not f.name.startswith("__dml_")
            ]

        if core(written_schema) != core(hit[1]):
            return
        new_fp = self.table_fingerprint(table_id)
        if new_fp is not None:
            _prime_read_schema_cache(key, new_fp, hit[1])

    def table_fingerprint(self, table_id: str) -> str | None:
        """Cheap change detector for a catalog-tree table: directory
        mtime (every copy-on-write swap renames a fresh directory into
        place; appends add files) plus entry count. None for anything
        not in the parquet tree (session views are untrackable). Used
        by the materialized-view smart rewrite's staleness check."""
        p = self.path_for(table_id)
        if not os.path.isdir(p):
            return None
        st = os.stat(p)
        return f"{st.st_mtime_ns}:{len(os.listdir(p))}"

    def layout_signature(self, table_id: str) -> tuple | None:
        """(pcol, partition VALUE expression) identifying a table's
        PARTITION BY declaration — the eligibility token the index
        freshness plane stamps at materialization and re-checks at
        serve/metadata time (a re-declared layout invalidates
        partition-tagged snapshots). None when unpartitioned."""
        meta = self.layout_meta(table_id)
        if not meta or not meta.get("pcol"):
            return None
        pexpr = (
            f"`{meta['source_col']}`"
            if meta.get("kind") == "identity"
            else meta.get("pexpr_bq")
        )
        return (meta["pcol"], pexpr)

    def _index_coverage(self, rec: dict) -> int:
        """coverage_percentage for the index-metadata views: 100 while
        the base's fingerprint equals the materialization snapshot (or
        the base is untrackable / the layout never materialized — the
        exact path serves those outright); for a STALE partition-tagged
        index, the unchanged-partition share the delta-union still
        serves from the layout; 0 for a stale untagged index."""
        fp = rec.get("base_fp")
        if fp is None or not rec.get("layout_view"):
            return 100
        try:
            cur = self.table_fingerprint(rec["table"])
        except ValueError:
            cur = None
        if cur == fp:
            return 100
        if rec.get("part_fps"):
            # same eligibility the ROUTER applies (_index_delta_parts):
            # a re-declared layout serves nothing from the index, so
            # coverage must not claim a share of it (review finding r9)
            sig = self.layout_signature(rec["table"])
            if sig is None or tuple(rec.get("part_sig") or ()) != sig:
                return 0
            curp = self.partition_fingerprints(rec["table"])
            if curp:
                old = rec["part_fps"]
                unchanged = sum(
                    1 for v, f in curp.items() if old.get(v) == f
                )
                return int(100 * unchanged / max(len(curp), 1))
        return 0

    def partition_fingerprints(self, table_id: str) -> dict[str, str] | None:
        """Per-partition change detector for a PARTITION BY table: hive
        partition value -> digest of the partition's (file name, size,
        mtime_ns) listing. FILE-level stats on purpose: the pruned-DML
        swap carries untouched partitions as re-created directories of
        HARDLINKED files (dml.swap_catalog_table), so directory mtimes
        churn on every swap while the immutable files' inodes — name,
        size, mtime — survive exactly when the partition's content
        does. None when the table has no partitioned layout or no live
        directory. Cost: one listdir per partition (metadata-bounded by
        the 4,000-partition cap)."""
        from urllib.parse import unquote

        meta = self.layout_meta(table_id)
        if not meta or not meta.get("pcol"):
            return None
        path = self.path_for(table_id)
        if not os.path.isdir(path):
            return None
        pcol = meta["pcol"]
        out: dict[str, str] = {}
        for d in os.listdir(path):
            if not d.startswith(pcol + "="):
                continue
            pdir = os.path.join(path, d)
            if not os.path.isdir(pdir):
                continue
            ents = []
            for f in sorted(os.listdir(pdir)):
                try:
                    st = os.stat(os.path.join(pdir, f))
                except OSError:
                    continue
                ents.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
            out[unquote(d.split("=", 1)[1])] = ";".join(ents)
        return out

    def ensure_layout_view(self, table_id: str) -> str:
        """Temp view over the RAW partitioned layout (derived partition
        column exposed) — the executor's partition-scan routing reads
        through this so injected ``__pk`` conjuncts reach the scan as
        PartitionFilters. Re-registered on every call: a DML swap
        replaces the directory under the old view's plan."""
        view = _safe_view_name(table_id) + "__layout"
        path = self.path_for(table_id)
        meta = self.layout_meta(table_id)
        if meta and not _dir_has_parquet(path):
            df = self._empty_layout_df(meta, with_pcol=True)
        else:
            df = self.spark.read.parquet(path)
        df.createOrReplaceTempView(view)
        return view

    # ------------------------------------------------------------------
    # Time-travel version store (FOR SYSTEM_TIME AS OF).
    #
    # Every mutation of a catalog parquet table archives the pre-image
    # under ``<root>/__versions__/<table>/<mutation_ts_us>/`` — a
    # HARDLINK tree (or a plain directory rename when the mutation
    # discards the old directory anyway), so the cost is file COUNT,
    # never table bytes: the same immutable-parquet argument as
    # ``clone``. ``resolve_as_of`` then maps a timestamp to the version
    # directory whose validity interval covers it: the archived version
    # with the smallest mutation time AFTER the requested instant, else
    # the live directory. BigQuery semantics mirrored: a time before
    # the table's creation errors, recreating a dropped table resets
    # its history, and retention is bounded by ``time_travel_hours``
    # (7-day default): expired versions are pruned at archive time and
    # by ``vacuum_versions``, and as-of instants beyond the window
    # error. Documented divergence: because the engine's DML commits
    # eagerly (BEGIN TRANSACTION is a rollback convenience — see
    # sql_executor), states later rolled back are visible to time
    # travel exactly as they were visible to concurrent queries.
    # ------------------------------------------------------------------

    def _versions_root(self, table_id: str) -> str:
        return os.path.join(
            self.root, "__versions__", _safe_view_name(table_id)
        )

    @staticmethod
    def _version_internal(table_id: str) -> bool:
        return table_id.startswith("__txn__.") or table_id.startswith(
            "__versions__"
        )

    def archive_preimage(self, table_id: str, move: bool = False) -> bool:
        """Archive the table's current directory as a version before a
        mutation. ``move`` renames the directory (zero-cost) when the
        caller would have deleted it; otherwise hardlink. Returns True
        when the live directory was consumed by a move."""
        import time

        if self._version_internal(table_id) or not self.exists(table_id):
            return False
        vroot = self._versions_root(table_id)
        os.makedirs(vroot, exist_ok=True)
        ts = time.time_ns() // 1000
        vdir = os.path.join(vroot, str(ts))
        while os.path.exists(vdir):  # same-microsecond mutations
            ts += 1
            vdir = os.path.join(vroot, str(ts))
        if move:
            os.rename(self.path_for(table_id), vdir)
            self._prune_expired(vroot, ts)
            return True
        _link_tree(self.path_for(table_id), vdir)
        self._prune_expired(vroot, ts)
        return False

    @property
    def _retention_us(self) -> int:
        return int(self.time_travel_hours * 3600 * 1_000_000)

    def _prune_expired(self, vroot: str, now_us: int) -> int:
        """Drop version dirs whose mutation instant fell out of the
        retention window (every instant they cover is now
        unresolvable — ``resolve_as_of`` raises before reaching them).
        Cost: one listdir + rmtree per expired generation; a table
        rewritten daily stops accumulating bytes after
        ``time_travel_hours`` of generations (VERDICT r6 #2)."""
        import shutil

        cutoff = now_us - self._retention_us
        removed = 0
        if not os.path.isdir(vroot):
            return 0
        for d in os.listdir(vroot):
            if d.isdigit() and int(d) < cutoff:
                shutil.rmtree(os.path.join(vroot, d), ignore_errors=True)
                removed += 1
        return removed

    def vacuum_versions(self) -> int:
        """Maintenance hook (StorageCleaner's ``vacuum_time_travel``):
        prune expired versions across EVERY table's version store —
        tables no longer being mutated never hit the archive-time
        prune, so a periodic vacuum bounds their storage too. Returns
        the number of version dirs removed."""
        import time

        base = os.path.join(self.root, "__versions__")
        now_us = time.time_ns() // 1000
        removed = 0
        if not os.path.isdir(base):
            return 0
        for t in os.listdir(base):
            removed += self._prune_expired(os.path.join(base, t), now_us)
        return removed

    def _record_creation(self, table_id: str) -> None:
        import shutil
        import time

        if self._version_internal(table_id):
            return
        vroot = self._versions_root(table_id)
        # recreation resets time-travel history (BigQuery contract)
        if os.path.isdir(vroot):
            shutil.rmtree(vroot)
        os.makedirs(vroot, exist_ok=True)
        with open(os.path.join(vroot, ".created"), "w") as f:
            f.write(str(time.time_ns() // 1000))

    def change_history(
        self,
        table_id: str,
        start_us: int | None = None,
        end_us: int | None = None,
        include_deletes: bool = True,
    ) -> DataFrame:
        """BigQuery's change-history TVFs (``APPENDS``/``CHANGES``)
        reconstructed from the time-travel version store: every
        mutation instant in the window contributes the value-level
        multiset diff of its adjacent states — rows in the after-state
        and not the before-state are ``INSERT``, the reverse are
        ``DELETE`` (``include_deletes=False`` is the APPENDS shape).
        Pseudo-columns ``_CHANGE_TYPE`` / ``_CHANGE_TIMESTAMP`` follow
        BigQuery's. Table creation is an INSERT of the initial rows at
        the creation instant. Documented divergence: BigQuery reads
        physical change records, so an UPDATE appears there as an
        UPDATE row and loads/streaming are distinguishable; this engine
        reconstructs VALUE-level diffs from immutable pre-images, so an
        UPDATE appears as its DELETE+INSERT pair and APPENDS reports
        every value-level addition (including an update's new image).
        Cost: one exceptAll pair per mutation in the window over two
        adjacent states — bounded by the retention GC, never by table
        age. A start before the retention window errors, mirroring
        ``resolve_as_of``; a truncating write that evolved the schema
        is aligned onto the CURRENT columns (missing -> NULL)."""
        import time

        from pyspark.sql import functions as F

        if not self.exists(table_id):
            raise ValueError(f"table not found: {table_id}")
        now_us = time.time_ns() // 1000
        window_start = now_us - self._retention_us
        if start_us is not None and start_us < window_start:
            raise ValueError(
                f"change history for table {table_id}: start is beyond"
                f" the {self.time_travel_hours:g} h time travel window"
            )
        lo = window_start if start_us is None else start_us
        hi = now_us + 1 if end_us is None else end_us
        vroot = self._versions_root(table_id)
        created = None
        versions: list[int] = []
        if os.path.isdir(vroot):
            for d in os.listdir(vroot):
                if d == ".created":
                    with open(os.path.join(vroot, d)) as f:
                        created = int(f.read().strip())
                elif d.isdigit():
                    versions.append(int(d))
        versions.sort()
        states: list[str] = [
            os.path.join(vroot, str(t)) for t in versions
        ] + [self.path_for(table_id)]
        cur = self.read(table_id)
        cols = [(f.name, f.dataType) for f in cur.schema.fields]

        def _state(path: str) -> DataFrame:
            # align the RAW parquet directly onto the CURRENT columns
            # (drops a derived __pk, reorders, casts, NULLs columns a
            # pre-schema-evolution pre-image lacks) — restore_layout
            # would select current-meta columns an old pre-image may
            # not have and raise (review finding r8). An EMPTY state
            # (post-TRUNCATE pre-image) has no footers to read.
            if not _dir_has_parquet(path):
                return cur.limit(0)
            df = self.spark.read.parquet(path)
            return df.select(
                *[
                    (
                        F.col(f"`{n}`") if n in df.columns else F.lit(None)
                    ).cast(dt).alias(n)
                    for n, dt in cols
                ]
            )

        # (instant, before-dir or None, after-dir); version dir t_i IS
        # the state the mutation at instant t_i replaced
        events: list[tuple[int, str | None, str]] = []
        if created is not None and lo <= created < hi:
            events.append((created, None, states[0]))
        for i, t in enumerate(versions):
            if lo <= t < hi:
                events.append((t, states[i], states[i + 1]))
        parts: list[DataFrame] = []
        for t, before, after in events:
            after_df = _state(after)
            before_df = _state(before) if before else after_df.limit(0)
            diffs = [("INSERT", after_df.exceptAll(before_df))]
            if include_deletes:
                diffs.append(("DELETE", before_df.exceptAll(after_df)))
            for kind, df in diffs:
                parts.append(
                    df.withColumn("_CHANGE_TYPE", F.lit(kind)).withColumn(
                        "_CHANGE_TIMESTAMP", F.timestamp_micros(F.lit(t))
                    )
                )
        if not parts:
            return (
                cur.limit(0)
                .withColumn("_CHANGE_TYPE", F.lit("INSERT"))
                .withColumn(
                    "_CHANGE_TIMESTAMP", F.timestamp_micros(F.lit(0))
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    def resolve_as_of(self, table_id: str, ts_us: int) -> str:
        """Directory holding the table's state as of epoch-micros
        ``ts_us`` (state committed at or before that instant). Instants
        beyond the retention window error (BigQuery's contract) — this
        is what makes archive-time pruning safe: no reachable instant
        ever maps to a pruned version."""
        import time

        if ts_us < time.time_ns() // 1000 - self._retention_us:
            raise ValueError(
                f"cannot read table {table_id} as of the requested time:"
                f" it is beyond the {self.time_travel_hours:g} h time"
                " travel window"
            )
        vroot = self._versions_root(table_id)
        created = None
        versions: list[int] = []
        if os.path.isdir(vroot):
            for d in os.listdir(vroot):
                if d == ".created":
                    with open(os.path.join(vroot, d)) as f:
                        created = int(f.read().strip())
                elif d.isdigit():
                    versions.append(int(d))
        if created is not None and ts_us < created:
            raise ValueError(
                f"table {table_id} did not exist as of the requested"
                " time (created later)"
            )
        later = [v for v in versions if v > ts_us]
        if later:
            return os.path.join(vroot, str(min(later)))
        if self.exists(table_id):
            return self.path_for(table_id)
        raise ValueError(
            f"table {table_id} has no state as of the requested time"
            " (dropped, or never written through the catalog)"
        )

    def write(
        self,
        df: DataFrame,
        table_id: str,
        disposition: str = "WRITE_TRUNCATE",
        create_if_needed: bool = True,
        stats_hook=None,
    ) -> None:
        """WRITE_TRUNCATE/WRITE_APPEND + CREATE_IF_NEEDED/CREATE_NEVER
        semantics (ref: bq_query_launcher.py:44-47)."""
        with self.table_lock(table_id):
            existed = self.exists(table_id)
            if not create_if_needed and not existed:
                raise ValueError(f"table {table_id} does not exist (CREATE_NEVER)")
            if existed:
                self.archive_preimage(table_id)
            mode = {"WRITE_TRUNCATE": "overwrite", "WRITE_APPEND": "append"}[disposition]
            pre_fp = self.table_fingerprint(table_id) if existed else None
            # a FRESH creation never inherits the stash a dropped/renamed
            # predecessor left for its time-travel readers — only a LIVE
            # layout record shapes writes
            meta = self.layout_meta(table_id, include_stash=existed)
            if (
                meta
                and disposition == "WRITE_TRUNCATE"
                and list(df.columns) != meta.get("columns")
            ):
                # a truncating write with a NEW schema keeps the layout
                # (BigQuery contract) but must refresh the visible-column
                # record — stale columns would brick every later read
                src = meta.get("source_col")
                if src and src not in df.columns:
                    raise ValueError(
                        f"write to {table_id}: the partitioning column"
                        f" {src!r} is missing from the new schema"
                    )
                meta = {
                    **meta,
                    "columns": list(df.columns),
                    "cluster_cols": [
                        c
                        for c in meta.get("cluster_cols", [])
                        if c in df.columns
                    ],
                }
                self.set_layout_meta(table_id, meta)
            self.layout_writer(df, meta, stats_hook=stats_hook).mode(
                mode
            ).parquet(self.path_for(table_id))
            if meta:
                # schema sidecar: what an EMPTY layout directory reads as
                # (TRUNCATE / full partition expiration leave no footers)
                self.set_layout_meta(
                    table_id, {**meta, "schema_json": df.schema.json()}
                )
            self.check_partition_cap(table_id)
            if not existed:
                self._record_creation(table_id)
            # a schema-preserving write carries the verified memo entry to
            # the new fingerprint so register() below skips re-inference
            self.rekey_read_schema_memo(table_id, pre_fp, df.schema, meta)
            if not meta and (disposition == "WRITE_TRUNCATE" or not existed):
                # prime the read-schema memo from the written frame (plain
                # tables only — a layout read-back reorders/derives
                # partition columns): a truncating or creating write defines
                # the whole directory, so the read-back schema is the
                # written one with parquet's all-nullable flags. Saves the
                # footer inference the register() below (and every later
                # read) would pay. APPENDS do not prime (ADVICE r11): an
                # appender outside the aligned-DML path could land a
                # different column order, and the written frame's schema
                # would then misread the pre-existing files — let the next
                # read infer from footers instead.
                fp = self.table_fingerprint(table_id)
                if fp is not None:
                    _prime_read_schema_cache(
                        (id(self.spark), self.path_for(table_id)),
                        fp,
                        _as_read_nullable(df.schema),
                    )
            # downstream SQL jobs in the same pipeline address the table by
            # name immediately (BigQuery-catalog semantics)
            self.register(table_id)
            self.expire_partitions(table_id)

    def drop(self, table_id: str) -> None:
        import shutil

        p = self.path_for(table_id)
        if os.path.isdir(p):
            if not self.archive_preimage(table_id, move=True):
                shutil.rmtree(p)
        self.clear_layout_meta(table_id)
        self.clear_table_options(table_id)
        self.clear_column_defaults(table_id)
        self.clear_constraints(table_id)
        self.purge_indexes(table_id)

    def purge_indexes(self, table_id: str) -> None:
        """Drop every recorded SEARCH/VECTOR index entry on the table —
        BigQuery drops a table's indexes with the table. Without the
        purge a DROP+recreate would route queries through the dead
        postings snapshot (VERDICT r8 #1, confirmed wrong answer).
        Suffix-matching ids errs toward over-purge, which only costs
        the index: the exact path is always correct."""
        purge_index_entries(getattr(self, "_indexes", None), table_id)

    def clone(self, src_id: str, dst_id: str) -> None:
        """Table clone/snapshot: a zero-copy HARDLINK of the immutable
        parquet files — no Spark job, no row rewrite, no byte copy (the
        engine's analog of BigQuery's metadata-only snapshots). Safe
        because the DML plane and WRITE_TRUNCATE swap whole directories
        and appends only ADD part files — existing parquet files are
        never mutated in place, so shared inodes can never observe a
        later mutation. Cost scales with file COUNT, not table bytes
        (asserted in test_scale_bounds). Falls back to a byte copy per
        file on filesystems without hardlink support. A source that
        only exists as a session view (CTAS output) is materialized
        instead."""
        import shutil

        if self.exists(src_id):
            # a clone of a partitioned table IS partitioned (BigQuery
            # contract) — carry the layout so reads hide the derived
            # column and later writes keep partitioning
            self.clone_path(
                self.path_for(src_id), dst_id, meta=self.layout_meta(src_id)
            )
            # clones get EXACTLY the source's options (BigQuery
            # contract) — including none: a replaced destination must
            # not keep its predecessor's (review finding r8: a stale
            # partition_expiration_days would GC the clone)
            self.clear_table_options(dst_id)
            opts = self.table_options(src_id)
            if opts:
                self.set_table_options(dst_id, opts)
        else:
            self.write(self.read(src_id), dst_id)

    def clone_path(
        self, src_path: str, dst_id: str, meta: dict | None = None
    ) -> None:
        """Hardlink-clone an arbitrary parquet directory (e.g. a
        time-travel version dir) into a catalog table. ``meta`` is the
        source's layout metadata when the files are hive-partitioned —
        it replaces (or, when None, clears) any stale layout on the
        destination BEFORE the view registers."""
        import shutil

        dst = self.path_for(dst_id)
        existed = os.path.isdir(dst)
        if existed and not self.archive_preimage(dst_id, move=True):
            shutil.rmtree(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        _link_tree(src_path, dst)
        if meta is not None:
            # the clone's layout must point at the CLONE (review
            # finding r8: copying table_id verbatim routed the clone's
            # pruned scans to the SOURCE table's layout view)
            self.set_layout_meta(dst_id, {**meta, "table_id": dst_id})
        else:
            self.clear_layout_meta(dst_id)
        if not existed:
            self._record_creation(dst_id)
        self.register(dst_id)

    def list_tables(self, project: str, dataset: str) -> list[str]:
        """Equivalent of the reference's ``__TABLES_SUMMARY__`` metadata
        scan (ref: output.sql:2-7). Includes virtual shard views."""
        base = os.path.join(self.root, project, dataset)
        names: set[str] = set(self._virtual.get((project, dataset), {}))
        if os.path.isdir(base):
            names.update(
                d for d in os.listdir(base) if os.path.isdir(os.path.join(base, d))
            )
        return sorted(names)

    def register_shard_names(
        self, project: str, dataset: str, tables: list[str]
    ) -> None:
        """Record shard table *names* (no backing view) so
        ``__TABLES_SUMMARY__`` / ``list_tables`` metadata queries see
        them — the companion of ``register_wildcard_dataframe``, which
        serves the actual scans (ref: output.sql:2-7 discovers the
        latest shard by name only)."""
        shard_map = self._virtual.setdefault((project, dataset), {})
        for t in tables:
            shard_map.setdefault(t, "")

    def register_partitioned_wildcard(
        self, table_id: str, family_prefix: str, date_col: str
    ) -> str:
        """The scale path for wildcard scans: map an existing
        date-partitioned table onto the ``family_*`` + ``_TABLE_SUFFIX``
        surface as a single view ``SELECT *, date_format(date_col,
        'yyyyMMdd') AS _TABLE_SUFFIX``. A ``_TABLE_SUFFIX`` predicate is
        an expression over the partition column only, so the file scan
        partition-prunes — no union of shard tables, no extra shuffle."""
        project, dataset, _ = table_id.split(".")
        src = self.register(table_id)
        pattern = f"{project}.{dataset}.{family_prefix}*"
        view = _safe_view_name(pattern.replace("*", "__star__"))
        self.spark.sql(
            f"CREATE OR REPLACE TEMP VIEW {view} AS "
            f"SELECT *, date_format({date_col}, 'yyyyMMdd') AS _TABLE_SUFFIX FROM {src}"
        )
        self._wildcard_views[pattern] = view
        return view

    def register_wildcard_dataframe(
        self, pattern: str, df: DataFrame, suffix_col: str = "_TABLE_SUFFIX"
    ) -> str:
        """Serve ``project.dataset.family_*`` scans from one DataFrame
        whose ``suffix_col`` plays ``_TABLE_SUFFIX``. Same contract as
        ``register_partitioned_wildcard`` but for an in-memory/derived
        DataFrame (no parquet round-trip)."""
        from pyspark.sql import functions as F

        view = _safe_view_name(pattern.replace("*", "__star__"))
        out = df
        if suffix_col != "_TABLE_SUFFIX":
            out = df.withColumn("_TABLE_SUFFIX", F.col(suffix_col))
        out.createOrReplaceTempView(view)
        self._wildcard_views[pattern] = view
        return view

    def ensure_wildcard_view(self, table_id: str) -> str:
        """``project.dataset.family_*`` -> a UNION-ALL view over every
        matching shard, each branch tagged with its literal
        ``_TABLE_SUFFIX``. Catalyst pushes suffix predicates into the
        branches where they constant-fold, so non-matching shards
        collapse to empty relations before any file is read — the
        engine's analogue of BigQuery's wildcard pruning
        (ref: model_bqml.sql:91-94; output.sql:18-19)."""
        project, dataset, pattern = table_id.split(".")
        assert pattern.endswith("*"), table_id
        prefix = pattern[:-1]
        view = _safe_view_name(table_id.replace("*", "__star__"))
        shard_map = self._virtual.get((project, dataset), {})
        branches = []
        for table in self.list_tables(project, dataset):
            if not table.startswith(prefix) or table == prefix.rstrip("_"):
                continue
            suffix = table[len(prefix):]
            src = shard_map.get(table) or self.register(
                f"{project}.{dataset}.{table}"
            )
            branches.append(f"SELECT *, '{suffix}' AS _TABLE_SUFFIX FROM {src}")
        if not branches:
            raise ValueError(f"no shards match {table_id}")
        self.spark.sql(
            f"CREATE OR REPLACE TEMP VIEW {view} AS "
            + " UNION ALL ".join(branches)
        )
        return view

    def ensure_tables_summary_view(self, project: str, dataset: str) -> str:
        """``project.dataset.__TABLES_SUMMARY__`` as a queryable relation
        (columns mirror BigQuery's: project_id, dataset_id, table_id,
        type; ref: output.sql:2-7)."""
        view = _safe_view_name(f"{project}.{dataset}.__TABLES_SUMMARY__")
        rows = [
            (project, dataset, t, 1)
            for t in self.list_tables(project, dataset)
        ]
        self.spark.createDataFrame(
            rows,
            "project_id string, dataset_id string, table_id string, type int",
        ).createOrReplaceTempView(view)
        return view

    def _dataset_tables(self, project: str, dataset: str) -> list[str]:
        """Tables visible to metadata queries: the parquet/virtual
        catalog (``list_tables``) plus session-catalog relations a CTAS
        in this session registered under ``proj__ds__*`` (both are the
        same BigQuery table in the reference, ref: bq_worker.py:61-66)."""
        names = set(self.list_tables(project, dataset))
        prefix = _safe_view_name(f"{project}.{dataset}.")
        try:
            # SHOW TABLES, not catalog.listTables(): the latter builds
            # full CatalogTable metadata for every relation (~1-3 s per
            # call once a session holds a few hundred temp views) where
            # the name listing here needs only the names (r11, guide §1)
            for t in self.spark.sql("SHOW TABLES").collect():
                if t["tableName"].startswith(prefix):
                    names.add(t["tableName"][len(prefix):])
        except Exception:
            pass
        # the materialized metadata views themselves are not tables
        return sorted(
            n
            for n in names
            if "information_schema__" not in n.lower()
            and "tables_summary" not in n.lower()
        )

    def _unique_project_for(self, dataset: str) -> str | None:
        """The single project owning ``dataset`` in the catalog tree /
        virtual registry, or None when absent or ambiguous — the same
        resolution dataset-only INFORMATION_SCHEMA qualifiers use."""
        hits = [
            p
            for p in sorted(os.listdir(self.root))
            if not p.startswith("__")
            and os.path.isdir(os.path.join(self.root, p, dataset))
        ]
        hits.extend(
            p for p, d in self._virtual if d == dataset and p not in hits
        )
        return hits[0] if len(hits) == 1 else None

    def _split_is_qualifier(self, qualifier: str) -> tuple[str, str]:
        parts = qualifier.split(".")
        if len(parts) == 2:
            return parts[0], parts[1]
        if len(parts) == 1:
            # dataset-only reference: resolve against the unique project
            # holding that dataset (BigQuery defaults to the session
            # project; the engine has no ambient project)
            hits = [
                p
                for p in sorted(os.listdir(self.root))
                if not p.startswith("__")  # engine planes: __versions__,
                # __jobs__, __vector_index__, __search_index__
                and os.path.isdir(os.path.join(self.root, p, parts[0]))
            ]
            hits.extend(
                p for p, d in self._virtual if d == parts[0] and p not in hits
            )
            if len(hits) == 1:
                return hits[0], parts[0]
            raise ValueError(
                f"INFORMATION_SCHEMA: dataset {parts[0]!r} is "
                f"{'ambiguous' if hits else 'unknown'}; qualify it as "
                "project.dataset.INFORMATION_SCHEMA.<view>"
            )
        raise ValueError(f"bad INFORMATION_SCHEMA qualifier: {qualifier!r}")

    def ensure_information_schema_view(self, qualifier: str, kind: str) -> str:
        """``[project.]dataset.INFORMATION_SCHEMA.{TABLES|COLUMNS}`` /
        ``project.INFORMATION_SCHEMA.SCHEMATA`` as queryable relations
        with BigQuery's column contract (table_catalog/table_schema/
        table_name/table_type; column_name/ordinal_position/is_nullable/
        data_type in BigQuery type spellings). Reflects the engine
        catalog — parquet tables, virtual shard views, and same-session
        CTAS relations — the same source of truth as
        ``__TABLES_SUMMARY__``."""
        kind = kind.upper()
        view = _safe_view_name(f"{qualifier}.INFORMATION_SCHEMA.{kind}")
        if kind == "SCHEMATA":
            project = qualifier
            base = os.path.join(self.root, project)
            datasets = sorted(
                (
                    {
                        d
                        for d in os.listdir(base)
                        if os.path.isdir(os.path.join(base, d))
                    }
                    if os.path.isdir(base)
                    else set()
                )
                | {d for p, d in self._virtual if p == project}
            )
            self.spark.createDataFrame(
                [(project, d) for d in datasets],
                "catalog_name string, schema_name string",
            ).createOrReplaceTempView(view)
            return view
        if kind in ("JOBS", "JOBS_BY_PROJECT", "JOBS_BY_USER"):
            # BigQuery job history (project-level: any qualifier serves
            # the same rows, mirroring region-us.INFORMATION_SCHEMA.JOBS).
            # One row per engine-executed statement, recorded by the
            # executor's _record_job. Deterministic ordinal job ids and
            # a constant user_email are documented divergences from
            # BigQuery's random ids / real principals — chosen so job
            # history is oracle-comparable. Timestamps are real wall
            # clock (exclude them from deterministic comparisons).
            import datetime as _dt

            from pyspark.sql import types as T

            def _ts(v):
                return (
                    _dt.datetime.fromtimestamp(v) if v is not None else None
                )

            def _dest(d):
                if not d:
                    return None
                parts = d.split(".")
                parts = [None] * (3 - len(parts)) + parts
                return tuple(parts[-3:])

            schema = T.StructType(
                [
                    T.StructField("creation_time", T.TimestampType()),
                    T.StructField("project_id", T.StringType()),
                    T.StructField("user_email", T.StringType()),
                    T.StructField("job_id", T.StringType()),
                    T.StructField("job_type", T.StringType()),
                    T.StructField("statement_type", T.StringType()),
                    T.StructField("priority", T.StringType()),
                    T.StructField("start_time", T.TimestampType()),
                    T.StructField("end_time", T.TimestampType()),
                    T.StructField("query", T.StringType()),
                    T.StructField("state", T.StringType()),
                    T.StructField("cache_hit", T.BooleanType()),
                    T.StructField(
                        "destination_table",
                        T.StructType(
                            [
                                T.StructField("project_id", T.StringType()),
                                T.StructField("dataset_id", T.StringType()),
                                T.StructField("table_id", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "dml_statistics",
                        T.StructType(
                            [
                                T.StructField(
                                    "inserted_row_count", T.LongType()
                                ),
                                T.StructField(
                                    "deleted_row_count", T.LongType()
                                ),
                                T.StructField(
                                    "updated_row_count", T.LongType()
                                ),
                            ]
                        ),
                    ),
                    T.StructField(
                        "error_result",
                        T.StructType(
                            [
                                T.StructField("reason", T.StringType()),
                                T.StructField("message", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField("total_bytes_processed", T.LongType()),
                    T.StructField("total_slot_ms", T.LongType()),
                ]
            )
            proj = qualifier.split(".")[0]
            rows = []
            with self._jobs_lock:
                jobs_snapshot = list(self._jobs)
            for j in jobs_snapshot:
                dml = j.get("dml_statistics")
                rows.append(
                    (
                        _ts(j["creation_time"]),
                        proj,
                        j["user_email"],
                        j["job_id"],
                        j["job_type"],
                        j["statement_type"],
                        "INTERACTIVE",
                        _ts(j["start_time"]),
                        _ts(j["end_time"]),
                        j["query"],
                        j["state"],
                        j["cache_hit"],
                        _dest(j.get("destination_table")),
                        (
                            (
                                dml["inserted_row_count"],
                                dml["deleted_row_count"],
                                dml["updated_row_count"],
                            )
                            if dml
                            else None
                        ),
                        (
                            ("invalidQuery", j["error_message"])
                            if j.get("error_message")
                            else None
                        ),
                        None,
                        None,
                    )
                )
            self.spark.createDataFrame(rows, schema).createOrReplaceTempView(
                view
            )
            return view
        project, dataset = self._split_is_qualifier(qualifier)
        tables = self._dataset_tables(project, dataset)
        views = self._view_defs.get((project, dataset), {})
        if kind == "TABLES":
            # MATERIALIZED VIEW storage is a catalog table (round 10);
            # BigQuery's TABLES view reports its own type for them
            owner = self._unique_project_for(dataset)
            mviews = {
                str(n).split(".")[-1]
                for n in getattr(self, "_mviews", {})
                if _name_in_dataset(n, project, dataset, owner)
            }
            rows = [
                (
                    project,
                    dataset,
                    t,
                    (
                        "MATERIALIZED VIEW"
                        if t in mviews
                        else "BASE TABLE"
                    ),
                )
                for t in tables
                if t not in views
            ] + [(project, dataset, v, "VIEW") for v in sorted(views)]
            self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, "
                "table_name string, table_type string",
            ).createOrReplaceTempView(view)
            return view
        if kind == "VIEWS":
            self.spark.createDataFrame(
                [
                    (project, dataset, v, d)
                    for v, d in sorted(views.items())
                ],
                "table_catalog string, table_schema string, "
                "table_name string, view_definition string",
            ).createOrReplaceTempView(view)
            return view
        if kind == "PARTITIONS":
            # BigQuery INFORMATION_SCHEMA.PARTITIONS (round 8 — natural
            # companion to honored PARTITION BY): one row per partition
            # of every catalog-tree table in the dataset, metadata-only
            # (row counts from parquet FOOTERS via pyarrow, byte sizes
            # from the filesystem — no Spark job, no data scan).
            # partition_id mirrors BigQuery's spelling BY GRANULARITY
            # (review finding r8): daily 'YYYYMMDD', monthly 'YYYYMM',
            # yearly 'YYYY', hourly 'YYYYMMDDHH'; integer-range layouts
            # report the range START (not the bucket index), with
            # out-of-range buckets as '__UNPARTITIONED__'; '__NULL__'
            # for the NULL partition; unpartitioned tables report a
            # single row with partition_id NULL.
            import datetime as _dt
            from urllib.parse import unquote

            rows = []
            for t in tables:
                tid = f"{project}.{dataset}.{t}"
                p = self.path_for(tid)
                if not os.path.isdir(p):
                    continue  # virtual shard/view: no physical layout
                meta = self.layout_meta(tid)
                pcol = (meta or {}).get("pcol")
                pdirs = (
                    sorted(
                        d
                        for d in os.listdir(p)
                        if d.startswith(f"{pcol}=")
                    )
                    if pcol
                    else []
                )
                mtime = _dt.datetime.utcfromtimestamp(
                    os.stat(p).st_mtime
                ).replace(microsecond=0)
                if not pdirs:
                    n, b = _parquet_dir_stats(p)
                    rows.append(
                        (project, dataset, t, None, n, b, mtime)
                    )
                    continue
                gran_len = {"YEAR": 4, "MONTH": 6, "DAY": 8, "HOUR": 10}[
                    meta.get("granularity", "DAY")
                    if meta.get("kind") != "range_bucket"
                    else "DAY"
                ]
                for d in pdirs:
                    val = unquote(d.split("=", 1)[1])
                    if val == "__HIVE_DEFAULT_PARTITION__":
                        pid = "__NULL__"
                    elif meta.get("kind") == "range_bucket":
                        rng = meta["range"]
                        b = int(val)
                        n_bounds = (rng["hi"] - rng["lo"]) // rng["step"] + 1
                        if b < 1 or b >= n_bounds:
                            pid = "__UNPARTITIONED__"
                        else:
                            pid = str(rng["lo"] + (b - 1) * rng["step"])
                    else:
                        pid = re.sub(r"[^0-9]", "", val)[:gran_len]
                    n, b = _parquet_dir_stats(os.path.join(p, d))
                    rows.append(
                        (project, dataset, t, pid, n, b, mtime)
                    )
            self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, "
                "table_name string, partition_id string, "
                "total_rows bigint, total_logical_bytes bigint, "
                "last_modified_time timestamp",
            ).createOrReplaceTempView(view)
            return view
        if kind == "ROUTINES":
            # BigQuery INFORMATION_SCHEMA.ROUTINES over the executor's
            # persisted stores (procedures + table functions live as
            # JSON sidecars in the catalog root; TEMP functions are
            # session-scoped and excluded, matching BigQuery). Names
            # stored unqualified report under the queried dataset.
            import json as _json

            def _rows_from(path: str, rtype: str):
                if not os.path.isfile(path):
                    return
                with open(path) as fh:
                    store = _json.load(fh)
                for name, rec in sorted(store.items()):
                    parts = name.split(".")
                    if len(parts) == 3 and (parts[0], parts[1]) != (
                        project,
                        dataset,
                    ):
                        continue
                    if len(parts) == 2 and parts[0] != dataset:
                        continue  # dataset-qualified, other dataset
                    body = (
                        rec.get("raw")
                        or rec.get("body")
                        or rec.get("query")
                        or ""
                    )
                    yield (
                        project,
                        dataset,
                        parts[-1],
                        rtype,
                        "SQL",
                        body,
                    )

            rows = (
                list(
                    _rows_from(
                        os.path.join(self.root, "_procedures.json"),
                        "PROCEDURE",
                    )
                )
                + list(
                    _rows_from(
                        os.path.join(self.root, "_table_functions.json"),
                        "TABLE FUNCTION",
                    )
                )
                + list(
                    _rows_from(
                        os.path.join(self.root, "_scalar_functions.json"),
                        "FUNCTION",
                    )
                )
            )
            self.spark.createDataFrame(
                rows,
                "routine_catalog string, routine_schema string, "
                "routine_name string, routine_type string, "
                "routine_body string, routine_definition string",
            ).createOrReplaceTempView(view)
            return view
        if kind == "MATERIALIZED_VIEWS":
            # BigQuery INFORMATION_SCHEMA.MATERIALIZED_VIEWS over the
            # executor's MV registry (round 10 — MV storage is a
            # catalog table, so the metadata plane lists them as
            # first-class objects; re-running the DDL or CALL
            # BQ.REFRESH_MATERIALIZED_VIEW updates last_refresh_time)
            from datetime import datetime, timezone

            rows = []
            owner = self._unique_project_for(dataset)
            for name, rec in sorted(getattr(self, "_mviews", {}).items()):
                if not _name_in_dataset(name, project, dataset, owner):
                    continue
                nparts = str(name).split(".")
                ts = rec.get("refreshed_at")
                rows.append(
                    (
                        project,
                        dataset,
                        nparts[-1],
                        (
                            datetime.fromtimestamp(ts, tz=timezone.utc)
                            if ts
                            else None
                        ),
                        rec.get("query_raw"),
                    )
                )
            self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, "
                "table_name string, last_refresh_time timestamp, "
                "query string",
            ).createOrReplaceTempView(view)
            return view
        if kind in ("SEARCH_INDEXES", "VECTOR_INDEXES"):
            # BigQuery index-metadata views over the executor's index
            # registry (CREATE VECTOR/SEARCH INDEX DDL). Since round 9
            # the freshness plane makes coverage_percentage REAL: a
            # fresh snapshot reports 100, a stale partition-tagged
            # index the unchanged-partition share (the fraction the
            # routed delta-union still serves from postings), and a
            # stale untagged index 0 (the exact path serves wholesale).
            want = "SEARCH" if kind == "SEARCH_INDEXES" else "VECTOR"
            rows = []
            for name, rec in sorted(
                getattr(self, "_indexes", {}).items()
            ):
                if rec.get("kind") != want:
                    continue
                tparts = rec.get("table", "").split(".")
                if len(tparts) == 3 and (tparts[0], tparts[1]) != (
                    project,
                    dataset,
                ):
                    continue
                if len(tparts) == 2 and tparts[0] != dataset:
                    continue  # dataset-qualified, other dataset
                opts = rec.get("options", {})
                extra = (
                    (opts.get("analyzer", "LOG_ANALYZER").upper(),)
                    if want == "SEARCH"
                    else (
                        opts.get("index_type", "IVF").upper(),
                        opts.get("distance_type", "COSINE").upper(),
                    )
                )
                rows.append(
                    (
                        project,
                        dataset,
                        tparts[-1],
                        name,
                        "ACTIVE",
                        self._index_coverage(rec),
                    )
                    + extra
                )
            extra_schema = (
                "analyzer string"
                if want == "SEARCH"
                else "index_type string, distance_type string"
            )
            self.spark.createDataFrame(
                rows,
                "index_catalog string, index_schema string, "
                "table_name string, index_name string, "
                "index_status string, coverage_percentage bigint, "
                + extra_schema,
            ).createOrReplaceTempView(view)
            return view
        if kind in ("TABLE_CONSTRAINTS", "KEY_COLUMN_USAGE"):
            # BigQuery's unenforced-constraint metadata views. PK
            # constraints are named <table>.pk$ (BigQuery spelling);
            # KEY_COLUMN_USAGE reports position_in_unique_constraint
            # only for FOREIGN KEY columns (NULL for PK, per the
            # standard).
            tc_rows, kcu_rows = [], []
            for tid, rec in sorted(self._constraints.items()):
                parts = tid.split(".")
                if len(parts) == 1:
                    # a bare table id belongs to no dataset; emitting it
                    # into every queried dataset would be metadata
                    # leakage (review finding r8)
                    continue
                if len(parts) == 3 and (parts[0], parts[1]) != (
                    project,
                    dataset,
                ):
                    continue
                if len(parts) == 2 and parts[0] != dataset:
                    continue
                tname = parts[-1]
                if rec.get("pk"):
                    cname = f"{tname}.pk$"
                    tc_rows.append(
                        (project, dataset, cname, project, dataset, tname,
                         "PRIMARY KEY", "NO", "NO", "NO")
                    )
                    kcu_rows.extend(
                        (project, dataset, cname, project, dataset, tname,
                         c, i + 1, None)
                        for i, c in enumerate(rec["pk"])
                    )
                for cname, fk in sorted(rec.get("fks", {}).items()):
                    tc_rows.append(
                        (project, dataset, cname, project, dataset, tname,
                         "FOREIGN KEY", "NO", "NO", "NO")
                    )
                    kcu_rows.extend(
                        (project, dataset, cname, project, dataset, tname,
                         c, i + 1, i + 1)
                        for i, c in enumerate(fk["cols"])
                    )
            # table_catalog/table_schema mirror the constraint's own
            # catalog/schema (BigQuery's full column set — review
            # finding r9: projections of those columns failed before)
            if kind == "TABLE_CONSTRAINTS":
                self.spark.createDataFrame(
                    tc_rows,
                    "constraint_catalog string, constraint_schema string, "
                    "constraint_name string, table_catalog string, "
                    "table_schema string, table_name string, "
                    "constraint_type string, is_deferrable string, "
                    "initially_deferred string, enforced string",
                ).createOrReplaceTempView(view)
            else:
                self.spark.createDataFrame(
                    kcu_rows,
                    "constraint_catalog string, constraint_schema string, "
                    "constraint_name string, table_catalog string, "
                    "table_schema string, table_name string, "
                    "column_name string, ordinal_position bigint, "
                    "position_in_unique_constraint bigint",
                ).createOrReplaceTempView(view)
            return view
        if kind == "TABLE_STORAGE":
            # BigQuery INFORMATION_SCHEMA.TABLE_STORAGE: storage
            # accounting per table, metadata-only (parquet footers +
            # filesystem stat — no Spark job). Documented divergences:
            # logical bytes = parquet-encoded bytes (BigQuery's logical
            # is the uncompressed column width), long_term tiers are 0
            # (no 90-day tiering plane), and time_travel_physical_bytes
            # counts version-store files by UNIQUE inode not shared with
            # the live table — hardlinked pre-images cost metadata only,
            # so this reports the engine's true physical overhead.
            import datetime as _dt

            def _tt_bytes(vroot: str, seen: set) -> int:
                # only the numeric version dirs hold pre-image data;
                # vroot-level bookkeeping (.created, .layout.json) is
                # not time-travel storage. Unique-inode billing.
                total = 0
                if not os.path.isdir(vroot):
                    return 0
                for vd in os.listdir(vroot):
                    vp = os.path.join(vroot, vd)
                    if not (vd.isdigit() and os.path.isdir(vp)):
                        continue
                    for root, _dirs, files in os.walk(vp):
                        for f in files:
                            fp = os.path.join(root, f)
                            try:
                                st = os.stat(fp)
                            except OSError:
                                continue
                            if st.st_ino in seen:
                                continue
                            seen.add(st.st_ino)
                            total += st.st_size
                return total

            def _created_at(vroot: str):
                cfile = os.path.join(vroot, ".created")
                if os.path.isfile(cfile):
                    with open(cfile) as fh:
                        return _dt.datetime.fromtimestamp(
                            int(fh.read().strip()) / 1e6
                        )
                return None

            rows = []
            live_vroots = set()
            for t in tables:
                tid = f"{project}.{dataset}.{t}"
                p = self.path_for(tid)
                if not os.path.isdir(p):
                    continue  # virtual shard/view: no physical storage
                live_vroots.add(os.path.basename(self._versions_root(tid)))
                n_rows, live_bytes = _parquet_dir_stats(p)
                live_inodes = set()
                for root, _dirs, files in os.walk(p):
                    for f in files:
                        try:
                            live_inodes.add(
                                os.stat(os.path.join(root, f)).st_ino
                            )
                        except OSError:
                            continue
                vroot = self._versions_root(tid)
                tt_bytes = _tt_bytes(vroot, set(live_inodes))
                meta = self.layout_meta(tid)
                pcol = (meta or {}).get("pcol")
                n_parts = (
                    sum(
                        1
                        for d in os.listdir(p)
                        if d.startswith(f"{pcol}=")
                    )
                    if pcol
                    else 0
                )
                mtime = _dt.datetime.fromtimestamp(os.stat(p).st_mtime)
                rows.append(
                    (
                        project,
                        dataset,
                        t,
                        _created_at(vroot),
                        False,
                        mtime,
                        n_rows,
                        n_parts,
                        live_bytes,
                        live_bytes,
                        0,
                        live_bytes + tt_bytes,
                        live_bytes,
                        0,
                        tt_bytes,
                    )
                )
            # dropped tables whose pre-images still bill in the version
            # store appear with deleted=true (BigQuery shows dropped
            # tables during their time-travel window); rows report the
            # newest archived state's footer count
            vbase = os.path.join(self.root, "__versions__")
            prefix = _safe_view_name(f"{project}.{dataset}.")
            if os.path.isdir(vbase):
                for vname in sorted(os.listdir(vbase)):
                    if not vname.startswith(prefix) or vname in live_vroots:
                        continue
                    vroot = os.path.join(vbase, vname)
                    versions = sorted(
                        int(d)
                        for d in os.listdir(vroot)
                        if d.isdigit()
                        and os.path.isdir(os.path.join(vroot, d))
                    )
                    if not versions:
                        continue
                    tt_bytes = _tt_bytes(vroot, set())
                    n_rows, _b = _parquet_dir_stats(
                        os.path.join(vroot, str(versions[-1]))
                    )
                    mtime = _dt.datetime.fromtimestamp(
                        os.stat(vroot).st_mtime
                    )
                    rows.append(
                        (
                            project,
                            dataset,
                            vname[len(prefix):],
                            _created_at(vroot),
                            True,
                            mtime,
                            n_rows,
                            0,
                            0,
                            0,
                            0,
                            tt_bytes,
                            0,
                            0,
                            tt_bytes,
                        )
                    )
            self.spark.createDataFrame(
                rows,
                "project_id string, table_schema string, "
                "table_name string, creation_time timestamp, "
                "deleted boolean, storage_last_modified_time timestamp, "
                "total_rows bigint, total_partitions bigint, "
                "total_logical_bytes bigint, active_logical_bytes bigint, "
                "long_term_logical_bytes bigint, "
                "total_physical_bytes bigint, active_physical_bytes bigint, "
                "long_term_physical_bytes bigint, "
                "time_travel_physical_bytes bigint",
            ).createOrReplaceTempView(view)
            return view
        if kind == "TABLE_OPTIONS":
            # BigQuery INFORMATION_SCHEMA.TABLE_OPTIONS: one row per
            # set option per table; option_value renders as the SQL
            # literal text (BigQuery's own contract). Metadata-only.
            _types = {
                "require_partition_filter": "BOOL",
                "partition_expiration_days": "FLOAT64",
                "expiration_timestamp": "TIMESTAMP",
                "description": "STRING",
                "friendly_name": "STRING",
                "labels": "ARRAY<STRUCT<STRING, STRING>>",
            }
            rows = []
            for t in tables:
                for k, v in sorted(
                    self.table_options(f"{project}.{dataset}.{t}").items()
                ):
                    if k == "expiration_timestamp_us":
                        continue  # internal normalization, not an option
                    ty = _types.get(k, "STRING")
                    if ty == "BOOL":
                        val = str(bool(v)).lower()
                    elif ty == "FLOAT64":
                        val = f"{float(v):g}"
                    elif ty == "STRING":
                        val = f'"{v}"'
                    else:
                        val = str(v)
                    rows.append((project, dataset, t, k, ty, val))
            self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, "
                "table_name string, option_name string, "
                "option_type string, option_value string",
            ).createOrReplaceTempView(view)
            return view
        if kind == "COLUMN_FIELD_PATHS":
            # BigQuery INFORMATION_SCHEMA.COLUMN_FIELD_PATHS: one row
            # per column AND per nested field reachable from it, with
            # dotted field_path (REPEATED STRUCTs traverse through the
            # array element, matching BigQuery's nested-schema listing)
            from pyspark.sql import types as T

            rows = []

            def _walk(t_name: str, col: str, path: str, dt) -> None:
                rows.append(
                    (project, dataset, t_name, col, path, _bq_type_name(dt))
                )
                inner = dt
                if isinstance(inner, T.ArrayType):
                    inner = inner.elementType
                if isinstance(inner, T.StructType):
                    for f in inner.fields:
                        _walk(t_name, col, f"{path}.{f.name}", f.dataType)

            for t in tables:
                try:
                    df = self.read(f"{project}.{dataset}.{t}")
                except ValueError:
                    continue
                for f in df.schema.fields:
                    _walk(t, f.name, f.name, f.dataType)
            self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, "
                "table_name string, column_name string, "
                "field_path string, data_type string",
            ).createOrReplaceTempView(view)
            return view
        if kind != "COLUMNS":
            raise ValueError(f"unsupported INFORMATION_SCHEMA view: {kind}")
        rows = []
        for t in tables:
            try:
                df = self.read(f"{project}.{dataset}.{t}")
            except ValueError:
                continue  # name-only shard registration, no schema
            for i, f in enumerate(df.schema.fields, 1):
                rows.append(
                    (
                        project,
                        dataset,
                        t,
                        f.name,
                        i,
                        "YES" if f.nullable else "NO",
                        _bq_type_name(f.dataType),
                    )
                )
        self.spark.createDataFrame(
            rows,
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position bigint, "
            "is_nullable string, data_type string",
        ).createOrReplaceTempView(view)
        return view

    def is_recorded_view(self, table_id: str) -> bool:
        """True when the (3-part) name is a recorded CREATE VIEW —
        index DDL must reject these: a view reads THROUGH its
        definition, so a snapshot index over it can never detect base
        mutations (BigQuery's contract anyway: search/vector indexes
        are only supported on tables)."""
        parts = table_id.strip("`").split(".")
        if len(parts) != 3:
            return False
        return parts[2] in self._view_defs.get((parts[0], parts[1]), {})

    def record_external(self, table_id: str) -> None:
        """Remember a CREATE EXTERNAL TABLE name — their files mutate
        OUTSIDE the engine, so index DDL must reject them (BigQuery
        does too: indexes are unsupported on external tables)."""
        if not hasattr(self, "_externals"):
            self._externals: set[str] = set()
        self._externals.add(table_id.strip("`").lower())

    def is_external(self, table_id: str) -> bool:
        return table_id.strip("`").lower() in getattr(
            self, "_externals", set()
        )

    def record_view(self, view_id: str, definition: str) -> None:
        """Remember a CREATE VIEW's name + definition for the
        INFORMATION_SCHEMA.VIEWS contract (metadata only — the view
        itself lives in the Spark session catalog)."""
        parts = view_id.split(".")
        if len(parts) != 3:
            return
        self._view_defs.setdefault((parts[0], parts[1]), {})[
            parts[2]
        ] = definition.strip()

    def resolve_table(self, table_id: str) -> str:
        """Dialect resolver hook: wildcard and metadata names ->
        materialized view names (everything else is a plain mapping)."""
        if table_id.endswith("*"):
            if table_id in self._wildcard_views:
                return self._wildcard_views[table_id]
            return self.ensure_wildcard_view(table_id)
        if table_id.endswith("__TABLES_SUMMARY__"):
            project, dataset, _ = table_id.split(".")
            return self.ensure_tables_summary_view(project, dataset)
        m_is = re.match(
            r"(.+)\.INFORMATION_SCHEMA\.(\w+)$", table_id, re.IGNORECASE
        )
        if m_is:
            return self.ensure_information_schema_view(
                m_is.group(1), m_is.group(2)
            )
        return _safe_view_name(table_id)
