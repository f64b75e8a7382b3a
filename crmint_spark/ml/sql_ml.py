"""BQML statement interception: ``CREATE MODEL`` / ``ML.PREDICT`` /
``ML.EVALUATE`` inside SQL scripts, routed to Spark ML.

The reference embeds these in BQScriptExecutor scripts
(ref: backend/controller/ml_model/templates/model_bqml.sql:2-16 CREATE
OR REPLACE MODEL ... OPTIONS(...) AS <query>; :26-29 ML.PREDICT;
docs/pipelines/bqml/train_evaluate_model.json ML.EVALUATE). Spark SQL
has no model DDL, so the script executor intercepts these statements:

- ``CREATE [OR REPLACE] MODEL `name` OPTIONS(MODEL_TYPE='...',
  INPUT_LABEL_COLS=['label'], ...) AS <query>`` — run the query, fit the
  mapped pyspark.ml estimator on it (features = every non-label column,
  string columns indexed), save under the model registry dir.
- ``SELECT ... FROM ML.PREDICT(MODEL `name`, (<query>))`` — run the
  inner query, ``model.transform``, expose positive-class
  ``probability`` + ``predicted_label`` columns, register the result as
  a temp view substituted into the outer query.
- ``SELECT * FROM ML.EVALUATE(MODEL `name`, (<query>))`` — evaluation
  metrics row (AUC/accuracy or RMSE/R2).
"""

from __future__ import annotations

import itertools
import os
import re
import shutil
from dataclasses import dataclass

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sqllex import balanced_end, iter_calls, split_top_level, string_value
from .estimators import (
    build_pipeline,
    is_classifier,
    load_model,
    predict_output,
    predict_with_probability,
    save_model,
    strip_training_summary,
)
from .forecast import (
    ml_arima_coefficients,
    ml_arima_evaluate,
    ml_detect_anomalies,
    ml_explain_forecast,
    ml_forecast,
)

_CREATE_MODEL_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?MODEL\s+`?([\w.\-]+)`?\s*"
    r"OPTIONS\s*\((.*?)\)\s*AS\s*(.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _resolve_split(df: DataFrame, opts: dict) -> tuple[DataFrame, dict]:
    """BigQuery DATA_SPLIT_METHOD semantics -> (training frame, split
    metadata). The split predicate is persisted with the model so
    no-input ``ML.EVALUATE(MODEL m)`` can re-derive the held-out rows
    from the training-source SQL (BigQuery evaluates on the reserved
    split; ref model_bqml.sql:95-101 uses the same hash-bucket idiom in
    its own pipelines).

    AUTO_SPLIT follows BigQuery's documented thresholds: < 500 rows ->
    no split (train on everything, evaluate on everything); 500-50,000
    -> 20% held out; > 50,000 -> 10,000 rows held out. RANDOM honors
    DATA_SPLIT_EVAL_FRACTION. CUSTOM holds out rows where the BOOL
    DATA_SPLIT_COL is true. SEQ holds out the last eval-fraction of rows
    ordered by DATA_SPLIT_COL. Divergence (documented): RANDOM/AUTO_SPLIT
    bucket rows by a deterministic whole-row hash rather than an RNG, so
    the split — and therefore evaluation — is reproducible across runs."""
    method = str(opts.pop("DATA_SPLIT_METHOD", "AUTO_SPLIT")).strip("'\"").upper()
    frac = opts.pop("DATA_SPLIT_EVAL_FRACTION", None)
    split_col = opts.pop("DATA_SPLIT_COL", None)
    split_col = str(split_col).strip("'\"") if split_col is not None else None
    if method == "NO_SPLIT":
        return df, {"method": method}
    if method == "CUSTOM":
        if not split_col:
            raise ValueError("DATA_SPLIT_METHOD='CUSTOM' requires DATA_SPLIT_COL")
        pred = f"NOT coalesce(`{split_col}`, false)"
        return (
            df.filter(F.expr(pred)),
            {"method": method, "split_col": split_col, "holdout_predicate": f"coalesce(`{split_col}`, false)"},
        )
    if method == "SEQ":
        # BigQuery SEQ: order by DATA_SPLIT_COL, the LAST
        # data_split_eval_fraction of rows is the evaluation set. The
        # cutoff is resolved to a literal at train time via
        # percentile_approx (deterministic sketch, single aggregation at
        # any scale); divergence (documented): the boundary lands within
        # the sketch's 1/10000 quantile accuracy, and rows TIED with the
        # cutoff value all go to the eval side.
        if not split_col:
            raise ValueError("DATA_SPLIT_METHOD='SEQ' requires DATA_SPLIT_COL")
        fr = float(frac if frac is not None else 0.2)
        cut_row = df.select(
            F.percentile_approx(
                F.col(split_col).cast("double"), 1.0 - fr, F.lit(10_000)
            ).alias("c")
        ).first()
        if cut_row["c"] is None:
            raise ValueError(
                f"DATA_SPLIT_COL `{split_col}` must be numeric (or "
                "numerically castable) and non-NULL for SEQ splits"
            )
        cutoff = float(cut_row["c"])
        pred = f"CAST(`{split_col}` AS DOUBLE) >= {cutoff!r}"
        return (
            df.filter(~F.expr(pred)),
            {
                "method": method,
                "split_col": split_col,
                "eval_pct": int(round(fr * 100)),
                "holdout_predicate": pred,
            },
        )
    n = df.count()
    if method == "RANDOM":
        pct = int(round(float(frac if frac is not None else 0.2) * 100))
    else:  # AUTO_SPLIT
        if n < 500:
            return df, {"method": method, "eval_pct": 0}
        pct = 20 if n <= 50_000 else max(int(round(10_000.0 / n * 100)), 1)
    pct = min(max(pct, 0), 100)
    if pct == 0:
        return df, {"method": method, "eval_pct": 0}
    holdout = f"(abs(xxhash64(struct(*))) % 100) < {pct}"
    return (
        df.filter(~F.expr(holdout)),
        {"method": method, "eval_pct": pct, "holdout_predicate": holdout},
    )


@dataclass
class ModelRegistry:
    root: str

    def path(self, name: str) -> str:
        safe = re.sub(r"[^\w\-]", "__", name)
        return os.path.join(self.root, "_models", safe)

    def meta_path(self, name: str) -> str:
        return self.path(name) + ".meta.json"

    def save_meta(self, name: str, meta: dict) -> None:
        import json

        os.makedirs(os.path.dirname(self.meta_path(name)), exist_ok=True)
        with open(self.meta_path(name), "w") as f:
            json.dump(meta, f)

    def load_meta(self, name: str) -> dict:
        import json

        with open(self.meta_path(name)) as f:
            return json.load(f)


_OPTION_LIST_RE = re.compile(r"\[(.*)\]|array\s*\((.*)\)", re.I | re.S)


def _parse_options(opts: str) -> dict:
    """OPTIONS(...) k=v parser, keys upper-cased: strings, numbers,
    ['list','items'] (also in the transpiled ``array('items')`` spelling
    — the dialect's array-literal rewrite runs before BQML interception);
    anything else, HPARAM_RANGE(a, b) / HPARAM_CANDIDATES([..]) calls
    included, is kept as raw text."""
    out: dict = {}
    for pair in split_top_level(opts):
        key, _, raw = pair.partition("=")
        key, raw = key.strip(), raw.strip()
        if not re.fullmatch(r"\w+", key) or not raw:
            continue
        lm = _OPTION_LIST_RE.fullmatch(raw)
        if lm:
            value = []
            for item in split_top_level(lm.group(1) or lm.group(2) or ""):
                item = item.strip()
                if item:
                    text = string_value(item)
                    value.append(item if text is None else text)
        elif (value := string_value(raw)) is None:
            try:
                value = int(raw)
            except ValueError:
                try:
                    value = float(raw)
                except ValueError:
                    value = raw
        out[key.upper()] = value
    return out


def extract_bqml_query(stmt: str) -> str | None:
    """The inner SELECT of a BQML statement, for dry-run planning
    (CREATE MODEL ... AS <q>; ML.PREDICT/ML.EVALUATE(MODEL m, (<q>)));
    None if the statement isn't BQML."""
    m = _CREATE_MODEL_RE.match(_split_transform(stmt)[0])
    if m:
        q = m.group(3).strip()
        return q[1:-1] if q.startswith("(") and q.endswith(")") else q
    # balanced scan, not the legacy non-greedy regexes: an inner query
    # containing "))" would otherwise be truncated in dry-run planning
    for fn in (
        "ML.PREDICT",
        "ML.EVALUATE",
        "ML.DETECT_ANOMALIES",
        "ML.GENERATE_EMBEDDING",
        "ML.TRANSFORM",
    ):
        pm = re.search(
            r"\b" + fn.replace(".", r"\.") + r"\s*\(", stmt, re.IGNORECASE
        )
        if not pm:
            continue
        end = balanced_end(stmt, pm.end() - 1)
        if end < 0:
            continue
        args = [a.strip() for a in split_top_level(stmt[pm.end() : end - 1])]
        for a in reversed(args):
            if a.startswith("("):
                return a[1:-1]
    return None


def _split_transform(stmt: str) -> tuple[str, str | None]:
    """Detach a ``CREATE MODEL name TRANSFORM(select_list) OPTIONS...``
    clause (BigQuery's model-embedded preprocessing): returns the
    statement with the clause removed plus the raw select list, or
    (stmt, None). Balanced-paren scan — the expressions contain
    parens."""
    m = re.match(
        r"(\s*CREATE\s+(?:OR\s+REPLACE\s+)?MODEL\s+`?[\w.\-]+`?\s*)"
        r"TRANSFORM\s*\(",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        return stmt, None
    open_idx = stmt.rindex("(", 0, m.end())
    end = balanced_end(stmt, open_idx)
    if end < 0:
        return stmt, None
    return m.group(1) + stmt[end:], stmt[open_idx + 1 : end - 1].strip()


def _transform_items(transform_sql: str, drop_label: str | None) -> list[str]:
    """Top-level select-list items of a TRANSFORM clause, minus items
    that merely pass the label through (at prediction time the label
    column does not exist — BigQuery likewise serves predictions
    without it)."""
    items = []
    for it in (s.strip() for s in split_top_level(transform_sql)):
        if not it:
            continue
        if drop_label and (
            it == drop_label
            or re.search(
                rf"\bAS\s+`?{re.escape(drop_label)}`?\s*$", it, re.IGNORECASE
            )
        ):
            continue
        items.append(it)
    return items


def _apply_transform(
    spark: SparkSession,
    inner: str,
    meta: dict,
    cte: str = "",
    drop_label: bool = False,
    densify: bool = True,
) -> DataFrame:
    """Run the model's persisted TRANSFORM select list over an input
    query (prediction/evaluation inputs get the same preprocessing the
    model was trained with — the whole point of the clause). Scoring
    paths also densify sparse one-hot columns to the fixed widths the
    fit recorded (``densify=False`` keeps ML.TRANSFORM's user-facing
    BigQuery shape)."""
    tf = meta.get("transform_sql")
    if not tf:
        df = spark.sql(f"{cte} {inner}" if cte else inner)
    else:
        vocab_aux = meta.get("vocab_aux")
        _ensure_vocab_views(spark, vocab_aux)
        items = _transform_items(
            tf, meta.get("label") if drop_label else None
        )
        sel = ", ".join(items)
        tq = _transform_query(sel, inner, vocab_aux)
        df = spark.sql(f"{cte} {tq}" if cte else tq)
    return _densify_encoded(df, meta) if densify else df


_ENCODED_DTYPE = "array<struct<index:bigint,value:double>>"


def _densify_encoded(df: DataFrame, meta: dict) -> DataFrame:
    """Sparse ``ARRAY<STRUCT<index, value>>`` encoder outputs ->
    fixed-width dense ml vectors (``<col>__dense``), widths persisted
    by the fit (meta['onehot_dense']) so train and serve agree by
    construction. Map-only expression (no shuffle); the sparse column
    is kept — only the assembler consumes the dense twin."""
    widths = meta.get("onehot_dense") or {}
    if not widths:
        return df
    from pyspark.ml.functions import array_to_vector

    for c, w in widths.items():
        if c in df.columns:
            dense = F.expr(
                f"transform(sequence(0, {int(w) - 1}), __di ->"
                f" CAST(coalesce(get(filter(`{c}`,"
                f" __ds -> __ds.index = __di), 0).value, 0.0) AS DOUBLE))"
            )
            df = df.withColumn(f"{c}__dense", array_to_vector(dense))
    return df


_INT_HPARAMS = ("MAX_ITERATIONS", "MAX_TREE_DEPTH", "NUM_PARALLEL_TREE")
# the numeric knobs build_pipeline maps onto Spark ML params; anything
# else in an HPARAM_* spec gets a descriptive rejection up front rather
# than a mid-training estimator crash
_TUNABLE_HPARAMS = _INT_HPARAMS + ("LEARN_RATE", "L2_REG", "MIN_REL_PROGRESS")


def _parse_hparam_spec(raw: str):
    """HPARAM_RANGE(lo, hi) -> ('range', lo, hi);
    HPARAM_CANDIDATES([v, ...]) (or the transpiled array(..) spelling)
    -> ('cand', [v, ...])."""
    m = re.match(r"HPARAM_RANGE\s*\(([^)]*)\)\s*$", raw, re.IGNORECASE)
    if m:
        lo, hi = (float(x) for x in m.group(1).split(","))
        return ("range", lo, hi)
    m = re.match(
        r"HPARAM_CANDIDATES\s*\(\s*(?:\[([^\]]*)\]|array\s*\(([^)]*)\))"
        r"\s*\)\s*$",
        raw,
        re.IGNORECASE,
    )
    if m:
        inner = m.group(1) if m.group(1) is not None else m.group(2)
        return (
            "cand",
            [v.strip().strip("'\"") for v in inner.split(",") if v.strip()],
        )
    raise ValueError(f"unsupported hyperparameter spec: {raw!r}")


def _hparam_trials(specs: dict, n: int) -> list[dict]:
    """Deterministic trial grid (BigQuery runs Bayesian search; the
    engine substitutes a reproducible grid — log-spaced for positive
    HPARAM_RANGE bounds, linear otherwise — truncated to NUM_TRIALS.
    Documented divergence: same budget, deterministic coverage)."""
    from itertools import product

    axes = []
    for k in sorted(specs):
        spec = specs[k]
        if spec[0] == "cand":
            vals = list(spec[1])
        else:
            lo, hi = spec[1], spec[2]
            pts = n if len(specs) == 1 else max(2, int(round(n ** (1.0 / len(specs)))))
            if pts < 2:
                vals = [lo]
            elif lo > 0:
                vals = [lo * (hi / lo) ** (i / (pts - 1)) for i in range(pts)]
            else:
                vals = [lo + (hi - lo) * i / (pts - 1) for i in range(pts)]
        coerce = int if k in _INT_HPARAMS else float
        try:
            axes.append((k, [coerce(float(v)) for v in vals]))
        except (TypeError, ValueError):
            raise ValueError(
                f"hyperparameter {k}: candidates must be numeric,"
                f" got {vals!r}"
            ) from None
    combos = product(*[[(k, v) for v in vals] for k, vals in axes])
    return [dict(c) for _, c in zip(range(n), combos)]


_VOCAB_ENCODERS = (
    "ML.LABEL_ENCODER",
    "ML.ONE_HOT_ENCODER",
    "ML.MULTI_HOT_ENCODER",
    "ML.TF_IDF",
)
# literal-map replay bound: beyond this, an expression-level literal
# map is the wrong tool and the encoders switch to the broadcast scale
# path (VERDICT r6 #3) — LABEL and ONE_HOT join a materialized
# vocabulary table (BroadcastHashJoin, exact), MULTI_HOT/TF_IDF encode
# through a vectorized broadcast-dict UDF (_register_mh_udf /
# _register_tfidf_udf); BigQuery's own defaults are top_k=32000
_VOCAB_MAX = 10_000


def _sql_str_lit(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _safe_name(name: str) -> str:
    return re.sub(r"\W", "_", name)


def _register_mh_udf(spark: SparkSession, fn_name: str, rows: list) -> None:
    """Arrow-batched multi-hot encode over a broadcast dict: per-row
    hash lookups, map-only — at 100 TB this beats the explode +
    re-aggregate alternative (two shuffles of the exploded corpus), and
    HOF lambdas can't host join/subquery expressions, so a vectorized
    UDF is the justified escape hatch for array-valued big-vocabulary
    encodes."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    mapping = {str(v): int(i) for v, i in rows}

    def _mh(col):
        def enc(arr):
            if arr is None:
                return None  # literal path: transform(NULL) -> NULL
            idxs = sorted(
                {
                    mapping[str(x)]
                    for x in arr
                    if x is not None and str(x) in mapping
                }
            )
            return [{"index": i, "value": 1.0} for i in idxs]

        return col.map(enc)

    spark.udf.register(
        fn_name,
        pandas_udf(
            _mh,
            "array<struct<index:bigint,value:double>>",
            PandasUDFType.SCALAR,
        ),
    )


def _register_tfidf_udf(
    spark: SparkSession, fn_name: str, rows: list, n_docs: int
) -> None:
    """Arrow-batched TF-IDF encode over a broadcast dict: value =
    tf(t, d) * idf(t) with tf = count(t in doc)/len(doc) and the same
    smoothed idf = ln((N+1)/(df+1)) + 1 as the literal-map path. The
    big-vocabulary twin of _register_mh_udf (same map-only scale
    argument); rows carry (token, index, doc_freq)."""
    import math

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    table = {
        str(v): (int(i), math.log((n_docs + 1.0) / (df + 1.0)) + 1.0)
        for v, i, df in rows
    }

    def _tfidf(col):
        from collections import Counter

        def enc(arr):
            if arr is None:
                return None  # literal path: transform(NULL) -> NULL
            # NULL elements drop (NULL = 'x' filters in the SQL path;
            # str(None) == 'None' could otherwise hit a real token);
            # tf denominator stays the FULL array length, matching
            # size(expr) in the literal-map expression
            toks = [str(x) for x in arr if x is not None]
            if not toks:
                return []
            n = float(len(arr))
            counts = Counter(toks)  # one O(len) pass, not O(k * len)
            out = []
            for t, c in counts.items():
                hit = table.get(t)
                if hit is not None:
                    idx, idf = hit
                    out.append(
                        {"index": idx, "value": (c / n) * idf}
                    )
            out.sort(key=lambda s: s["index"])
            return out

        return col.map(enc)

    spark.udf.register(
        fn_name,
        pandas_udf(
            _tfidf,
            "array<struct<index:bigint,value:double>>",
            PandasUDFType.SCALAR,
        ),
    )


def _ensure_vocab_views(spark: SparkSession, vocab_aux: dict | None) -> None:
    """Re-register the persisted big-vocabulary tables as temp views
    (and the multi-hot lookup UDFs) — replay sessions load the model
    from meta JSON; the fitting session's views/UDFs are gone."""
    if not vocab_aux:
        return
    for view, rows in vocab_aux.get("tables", {}).items():
        try:
            spark.table(view)
        except Exception:
            spark.createDataFrame(
                [(str(v), int(i)) for v, i in rows],
                "__mlv_v string, __mlv_idx bigint",
            ).createOrReplaceTempView(view)
    for u in vocab_aux.get("udfs", []):
        if u.get("kind") == "tfidf":
            _register_tfidf_udf(
                spark, u["fn"], u["rows"], int(u["n_docs"])
            )
        else:
            _register_mh_udf(
                spark, u["fn"], vocab_aux["tables"][u["view"]]
            )


def _transform_query(
    sel: str, inner: str, vocab_aux: dict | None
) -> str:
    """The TRANSFORM select list over an input query, with the
    big-vocabulary scale attachments (VERDICT r6 #3): one LEFT JOIN per
    large LABEL_ENCODER vocabulary — an equi-join on the encoded
    expression against the k-row vocab view, which Spark broadcasts
    (BroadcastHashJoin), never a literal map the planner must chew.
    MULTI_HOT's big-vocabulary encode is a registered vectorized UDF
    (_register_mh_udf) already referenced inside the select list, so it
    needs no attachment here."""
    joins = (vocab_aux or {}).get("joins", [])
    # explicit hint: the vocab side is bounded (<= top_k rows) by
    # construction, but registered views carry no size statistics, so
    # without it the pre-AQE plan falls back to a sort-merge join
    hint = (
        "/*+ BROADCAST(" + ", ".join(j["alias"] for j in joins) + ") */ "
        if joins
        else ""
    )
    sql = f"SELECT {hint}{sel} FROM ({inner}) AS __transform_src"
    for j in joins:
        sql += f" LEFT JOIN {j['view']} AS {j['alias']} ON {j['on']}"
    return sql


def _fit_vocab_encoders(
    spark: SparkSession,
    transform_sql: str,
    query: str,
    view_prefix: str = "__mlvocab",
) -> tuple[str, dict | None]:
    """Fit the vocabulary-dependent TRANSFORM encoders (VERDICT r5 #4)
    and inline them as deterministic literal-map expressions:

    - ``ML.LABEL_ENCODER(x [, top_k [, frequency_threshold]])`` ->
      INT64 in [0, k]: categories ranked by frequency DESC, value ASC
      get 1..k; NULL / unseen / below-threshold -> 0.
    - ``ML.ONE_HOT_ENCODER(x [, drop [, top_k [, freq]]])`` ->
      ARRAY<STRUCT<index BIGINT, value DOUBLE>> (sparse one-hot: one
      entry, index as above, value 1.0). ``drop`` accepts 'none'
      (default); other modes raise.
    - ``ML.MULTI_HOT_ENCODER(arr [, top_k [, freq]])`` -> same struct
      array over an ARRAY<STRING> input, one entry per distinct
      in-vocabulary element, index-sorted.

    The vocabulary is computed ONCE from the training input (one
    groupBy over the source — map-side combine), then inlined into the
    persisted transform_sql, so ML.PREDICT/EVALUATE replay is map-only
    with no refit (train/serve skew impossible by construction). The
    rewritten clause is what gets persisted.

    Cardinality beyond _VOCAB_MAX switches to the broadcast scale path
    (VERDICT r6 #3) instead of an unplannable literal expression:
    LABEL_ENCODER and ONE_HOT_ENCODER persist the vocabulary as a
    (value, index) table and encode via an equi LEFT JOIN
    (_transform_query attaches it; Spark broadcasts the k-row side —
    BroadcastHashJoin), ONE_HOT wrapping the joined index as its single
    sparse entry — EXACT, same semantics as the literal map (round 8,
    VERDICT r7 #3); MULTI_HOT_ENCODER encodes through a vectorized
    broadcast-dict UDF (_register_mh_udf — HOF lambdas cannot host
    joins, and a per-row map column would materialize the map into
    every row); TF_IDF rides the same shape with (index, idf) riding
    the broadcast dict (_register_tfidf_udf). ONE_HOT additionally
    accepts drop => 'hash' (engine extension, opt-in): the hashing
    trick — bucketed index, no vocabulary, collisions possible.

    -> (rewritten clause, vocab_aux) where vocab_aux carries the
    persisted vocabulary tables + join/map attachments (None when every
    vocabulary fit inline)."""
    aux: dict = {"tables": {}, "joins": [], "udfs": []}
    n_aux = 0
    while True:
        calls = list(
            iter_calls(
                transform_sql,
                tuple(e.replace(".", r"\.") for e in _VOCAB_ENCODERS),
            )
        )
        if not calls:
            return transform_sql, (aux if n_aux else None)
        start, op, end, fn = calls[0]
        fn = fn.upper().replace("\\", "")
        args = [
            a.strip()
            for a in split_top_level(transform_sql[op + 1 : end - 1])
        ]
        expr = args[0]
        extras = args[1:]
        drop = "none"
        if fn == "ML.ONE_HOT_ENCODER" and extras and not extras[0].isdigit():
            drop = extras.pop(0).strip("'\"").lower()
            if drop not in ("none", "hash"):
                raise ValueError(
                    "ML.ONE_HOT_ENCODER: only drop => 'none' (BigQuery"
                    " default) and the engine extension 'hash' (opt-in"
                    " hashing-trick bucketing above the literal-map"
                    " bound) are implemented"
                )
        top_k = int(extras[0]) if len(extras) > 0 else 32_000
        freq_th = int(extras[1]) if len(extras) > 1 else 1
        multi = fn == "ML.MULTI_HOT_ENCODER"
        tfidf = fn == "ML.TF_IDF"
        # TF_IDF vocabulary ranks by DOCUMENT frequency (distinct per
        # row); multi-hot ranks by occurrence count
        exploded_src = f"array_distinct({expr})" if tfidf else expr
        val_expr = (
            f"__ve FROM ({query}) AS __vsrc"
            f" LATERAL VIEW explode({exploded_src}) __vx AS __ve"
            if multi or tfidf
            else f"{expr} AS __ve FROM ({query}) AS __vsrc"
        )
        n_docs = (
            spark.sql(
                f"SELECT COUNT(*) AS n FROM ({query}) AS __vsrc"
            ).collect()[0]["n"]
            if tfidf
            else 0
        )
        vocab_rows = spark.sql(
            f"SELECT __ve AS v, COUNT(*) AS c FROM"
            f" (SELECT {val_expr}) AS __vvals"
            f" WHERE __ve IS NOT NULL GROUP BY __ve"
            f" HAVING COUNT(*) >= {freq_th}"
            f" ORDER BY c DESC, v ASC LIMIT {top_k + 1}"
        ).collect()
        vocab_rows = vocab_rows[:top_k]
        vocab = [str(r["v"]) for r in vocab_rows]
        doc_freq = [int(r["c"]) for r in vocab_rows]
        if len(vocab) > _VOCAB_MAX:
            n_aux += 1
            if tfidf:
                # big-vocabulary TF-IDF: broadcast (index, idf) dict
                # into a vectorized UDF — same map-only scale shape as
                # MULTI_HOT (the idf weights ride the dict, so no
                # literal map and no join is needed)
                fn_name = f"{view_prefix}_{n_aux}_tfidf"
                rows3 = [
                    [v, i + 1, df]
                    for i, (v, df) in enumerate(zip(vocab, doc_freq))
                ]
                aux["udfs"].append(
                    {
                        "kind": "tfidf",
                        "fn": fn_name,
                        "rows": rows3,
                        "n_docs": int(n_docs),
                    }
                )
                _register_tfidf_udf(spark, fn_name, rows3, int(n_docs))
                rep = (
                    f"{fn_name}(transform({expr},"
                    f" __tf -> CAST(__tf AS STRING)))"
                )
                transform_sql = (
                    transform_sql[:start] + rep + transform_sql[end:]
                )
                continue
            if fn == "ML.ONE_HOT_ENCODER" and drop == "hash":
                # OPT-IN hashing trick (drop => 'hash', engine
                # extension): bucketed index, no vocabulary at all —
                # distinct categories can share a bucket (collision
                # probability ~ k/B), the standard trade when even a
                # persisted vocabulary is unwanted. The DEFAULT big-
                # vocabulary ONE_HOT is exact (vocab-join branch below,
                # round 8 — VERDICT r7 #3 closed the divergence).
                n_buckets = 1 << (len(vocab) - 1).bit_length()
                rep = (
                    f"array(named_struct('index',"
                    f" CAST(CASE WHEN ({expr}) IS NULL THEN 0"
                    f" ELSE pmod(xxhash64(CAST({expr} AS STRING)),"
                    f" {n_buckets}) + 1 END AS BIGINT),"
                    f" 'value', CAST(1.0 AS DOUBLE)))"
                )
            else:
                import hashlib

                rows = [[v, i + 1] for i, v in enumerate(vocab)]
                # content digest in the name: a re-created model gets a
                # DIFFERENT view/UDF name, so a session that registered
                # the old vocabulary can never serve it to the new
                # model (review finding r7: existence-by-name trusted
                # stale views)
                digest = hashlib.md5(
                    repr(rows).encode()
                ).hexdigest()[:10]
                view = f"{view_prefix}_{n_aux}_{digest}"
                aux["tables"][view] = rows
                spark.createDataFrame(
                    [(v, i) for v, i in rows],
                    "__mlv_v string, __mlv_idx bigint",
                ).createOrReplaceTempView(view)
                if fn in ("ML.LABEL_ENCODER", "ML.ONE_HOT_ENCODER"):
                    # persisted vocab table + hinted equi LEFT JOIN
                    # (BroadcastHashJoin — the k-row side). ONE_HOT's
                    # joined index becomes the single sparse entry, so
                    # the scale path is EXACT (identical to the
                    # literal-map semantics: NULL/unseen -> index 0) —
                    # round 8, VERDICT r7 #3.
                    alias = f"__mlvj{n_aux}"
                    aux["joins"].append(
                        {
                            "view": view,
                            "alias": alias,
                            "on": (
                                f"CAST({expr} AS STRING)"
                                f" = {alias}.__mlv_v"
                            ),
                        }
                    )
                    idx = f"CAST(coalesce({alias}.__mlv_idx, 0) AS BIGINT)"
                    rep = (
                        idx
                        if fn == "ML.LABEL_ENCODER"
                        else (
                            f"array(named_struct('index', {idx},"
                            f" 'value', CAST(1.0 AS DOUBLE)))"
                        )
                    )
                else:  # MULTI_HOT: vectorized broadcast-dict lookup
                    fn_name = f"{view}_mh"
                    aux["udfs"].append({"view": view, "fn": fn_name})
                    _register_mh_udf(spark, fn_name, rows)
                    rep = (
                        f"{fn_name}(transform({expr},"
                        f" __mh -> CAST(__mh AS STRING)))"
                    )
            transform_sql = transform_sql[:start] + rep + transform_sql[end:]
            continue
        if vocab:
            map_lit = "map(" + ", ".join(
                f"{_sql_str_lit(v)}, {i + 1}" for i, v in enumerate(vocab)
            ) + ")"
            enc = (
                f"CAST(coalesce(element_at({map_lit}, "
                f"CAST({expr} AS STRING)), 0) AS BIGINT)"
            )
        else:
            enc = f"CAST(0 AS BIGINT)"
        if fn == "ML.TF_IDF":
            # value = tf(t, d) * idf(t); tf = count(t in d) / len(d);
            # idf = ln((N + 1) / (df + 1)) + 1 (smoothed — deterministic
            # and documented; evaluated as the same formula text in the
            # oracle, with ROUND absorbing the libm/JVM ln() ulp)
            if vocab:
                idf_map = "map(" + ", ".join(
                    f"{_sql_str_lit(v)},"
                    f" (ln(CAST({n_docs + 1} AS DOUBLE)"
                    f" / CAST({df + 1} AS DOUBLE)) + CAST(1 AS DOUBLE))"
                    for v, df in zip(vocab, doc_freq)
                ) + ")"
                strs = f"transform({expr}, __x -> CAST(__x AS STRING))"
                rep = (
                    f"array_sort(transform(array_distinct(filter({strs},"
                    f" __x -> element_at({map_lit}, __x) IS NOT NULL)),"
                    f" __tk -> named_struct("
                    f"'index', CAST(element_at({map_lit}, __tk) AS BIGINT),"
                    f" 'value', CAST((size(filter({strs},"
                    f" __e -> __e = __tk))"
                    f" / CAST(size({expr}) AS DOUBLE))"
                    f" * element_at({idf_map}, __tk) AS DOUBLE))))"
                )
            else:
                rep = (
                    "CAST(array() AS"
                    " ARRAY<STRUCT<index: BIGINT, value: DOUBLE>>)"
                )
        elif fn == "ML.LABEL_ENCODER":
            rep = enc
        elif fn == "ML.ONE_HOT_ENCODER":
            rep = (
                f"array(named_struct('index', {enc},"
                f" 'value', CAST(1.0 AS DOUBLE)))"
            )
        else:  # MULTI_HOT: one entry per distinct in-vocab element
            if vocab:
                rep = (
                    f"array_sort(transform(array_distinct(filter("
                    f"transform({expr}, __mh ->"
                    f" element_at({map_lit}, CAST(__mh AS STRING))),"
                    f" __mi -> __mi IS NOT NULL)),"
                    f" __mi -> named_struct('index', CAST(__mi AS BIGINT),"
                    f" 'value', CAST(1.0 AS DOUBLE))))"
                )
            else:
                rep = (
                    "CAST(array() AS"
                    " ARRAY<STRUCT<index: BIGINT, value: DOUBLE>>)"
                )
        transform_sql = transform_sql[:start] + rep + transform_sql[end:]


def try_create_model(
    spark: SparkSession, stmt: str, registry: ModelRegistry
) -> DataFrame | None:
    """If stmt is CREATE MODEL, fit + save the model and return the
    training-input DataFrame (callers surface it as the statement
    result); None if the statement isn't CREATE MODEL."""
    stmt, transform_sql = _split_transform(stmt)
    m = _CREATE_MODEL_RE.match(stmt)
    if not m:
        return None
    name, opts_raw, query = m.group(1), m.group(2), m.group(3).strip()
    if query.startswith("(") and query.endswith(")"):
        query = query[1:-1]
    vocab_aux = None
    if transform_sql:
        # vocabulary encoders fit on the raw training input and inline
        # as literal maps (or broadcast attachments past _VOCAB_MAX)
        # BEFORE the clause is persisted/applied
        transform_sql, vocab_aux = _fit_vocab_encoders(
            spark, transform_sql, query, f"__mlvocab_{_safe_name(name)}"
        )
        # training consumes the TRANSFORMED columns; the raw query and
        # the clause are both persisted so predict/evaluate replay it
        query = _transform_query(transform_sql, query, vocab_aux)
    opts = _parse_options(opts_raw)
    model_type = str(opts.pop("MODEL_TYPE", "LOGISTIC_REG")).upper()
    label_cols = opts.pop("INPUT_LABEL_COLS", ["label"])
    label = label_cols[0] if isinstance(label_cols, list) else str(label_cols)
    # materialize the training input ONCE and truncate its lineage:
    # a Spark ML pipeline fit launches dozens of small jobs (one per
    # StringIndexer, per LBFGS/GBT iteration, per summary pass), and
    # each would otherwise re-analyze + re-optimize the full logical
    # plan — for reference-template inputs a 10+-CTE assembly over the
    # events shards, ~0.5 s of planning per job before any data is
    # touched. localCheckpoint keeps the blocks distributed on the
    # executors (no driver collect) with a flat scan plan.
    # diamond-shaped reference inputs (model_bqml.sql references
    # `events` 3x, `first_engagement`/`unified_dataset` 2x) re-execute
    # each shared CTE per reference under Spark's inlining; materialize
    # the hot CTEs once first (r11, guide §3.3 — 12 parquet scans +
    # 6 windows collapse to one pass per subtree; values unchanged).
    from ..optimize import drop_ctemat_views, materialize_repeated_ctes

    query_exec, cte_views = materialize_repeated_ctes(spark, query)
    df = spark.sql(query_exec)
    try:
        df = df.localCheckpoint(eager=True)
        # the final checkpoint holds the data; the intermediates can go
        drop_ctemat_views(spark, cte_views)
    except Exception:
        from pyspark.storagelevel import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if model_type == "ARIMA_PLUS":
        # time-series path: Holt smoothing fit (ml/forecast.py), state
        # saved in the meta; ML.FORECAST expands it
        from .forecast import (
            fit_holt_state,
            infer_period_and_years,
            infer_seasonal_period,
        )

        ts_col = str(opts.get("TIME_SERIES_TIMESTAMP_COL", "ts")).strip("'\"")
        y_col = str(opts.get("TIME_SERIES_DATA_COL", "y")).strip("'\"")
        id_col = opts.get("TIME_SERIES_ID_COL")
        id_col = str(id_col).strip("'\"") if id_col is not None else None
        freq = str(opts.get("DATA_FREQUENCY", "AUTO_FREQUENCY")).strip("'\"")
        holiday = None
        region = opts.get("HOLIDAY_REGION")
        if region is None:
            period = infer_seasonal_period(df, ts_col, freq)
        else:
            # holiday path needs the calendar's year span too: fused
            # with the seasonal probe into ONE job (VERDICT r11 #6)
            period, yr_lo, yr_hi = infer_period_and_years(df, ts_col, freq)
        if region is not None:
            # RegARIMA-style pooled holiday dummy (ml/forecast.py module
            # note): fit the additive effect on the raw series, fold on
            # the de-holidayed series, add the effect back at serve time
            from .forecast import (
                apply_holiday_adjustment,
                holiday_calendar,
            )

            region = str(region).strip("'\"")
            # one calendar year past the data so horizons that cross a
            # year boundary still see their holidays
            years = list(range(yr_lo, yr_hi + 2))
            dates = holiday_calendar(region, years)
            # effect fit + de-holidayed fold fused into ONE groupBy +
            # collect (r11, guide §1.2); two-pass equivalence is
            # pytest-asserted (test_sql_ml holiday fusion test)
            state, effects = fit_holt_state(
                df, ts_col, y_col, id_col, period, holiday_dates=dates
            )
            df_fit = None  # lazily derived below only if history persists
            holiday = {"region": region, "effects": effects, "dates": dates}
        else:
            df_fit = df
            state = fit_holt_state(df_fit, ts_col, y_col, id_col, period)
        meta = {
            "model_type": "ARIMA_PLUS",
            "state": state,
            "horizon": int(opts.get("HORIZON", 10)),
            "detect_cols": {"ts": ts_col, "y": y_col, "id": id_col},
        }
        if holiday is not None:
            meta["holiday"] = holiday
        from .forecast import EXPLAIN_DRIVER_SERIES_MAX

        if any(s["ys"] is None for s in state) or (
            len(state) > EXPLAIN_DRIVER_SERIES_MAX
        ):
            # a series outgrew the per-series embed bound (or the model
            # holds too many series for the driver replay): persist the
            # DE-HOLIDAYED history as a parquet table so
            # ML.EXPLAIN_FORECAST replays it distributed
            # (applyInPandas per series — VERDICT r7 #2). Map-only
            # write; size = training rows, bounded by the fit input.
            hist_path = registry.path(name) + ".history"
            if df_fit is None:
                # fused holiday fit skipped materializing the adjusted
                # frame; derive it here (this rare branch only)
                df_fit = apply_holiday_adjustment(
                    df, spark, ts_col, y_col, id_col,
                    holiday["effects"], holiday["dates"],
                )
            sid = (
                F.col(id_col).cast("string")
                if id_col
                else F.lit("__all__")
            )
            (
                df_fit.select(
                    sid.alias("series_id"),
                    F.unix_micros(
                        F.col(ts_col).cast("timestamp")
                    ).alias("ts_us"),
                    F.col(y_col).cast("double").alias("y"),
                )
                .repartition(F.col("series_id"))
                .write.mode("overwrite")
                .parquet(hist_path)
            )
            meta["history_path"] = hist_path
        registry.save_meta(name, meta)
        return df
    if model_type == "KMEANS":
        # clustering: deterministic bounded-sample Lloyd fit
        # (ml/kmeans.py); centroids persisted in the meta, served by
        # ML.PREDICT / ML.CENTROIDS / ML.EVALUATE
        from .kmeans import fit_kmeans_state

        dist = str(opts.get("DISTANCE_TYPE", "EUCLIDEAN")).strip("'\"").upper()
        if dist != "EUCLIDEAN":
            raise ValueError(
                f"KMEANS DISTANCE_TYPE {dist!r} is not supported; the"
                " engine implements EUCLIDEAN (cosine bucketing lives in"
                " operators/similarity.py)"
            )
        standardize = opts.get("STANDARDIZE_FEATURES", True)
        if isinstance(standardize, str):
            standardize = standardize.strip("'\"").upper() != "FALSE"
        state = fit_kmeans_state(
            df,
            int(opts.get("NUM_CLUSTERS", 4)),
            int(opts.get("MAX_ITERATIONS", 20)),
            bool(standardize),
        )
        registry.save_meta(
            name,
            {
                "model_type": "KMEANS",
                "kmeans": state,
                "source_sql": query,
                "transform_sql": transform_sql,
                **({"vocab_aux": vocab_aux} if vocab_aux else {}),
            },
        )
        return df
    if model_type == "PCA":
        # dimensionality reduction: deterministic deflated power
        # iteration (ml/pca_model.py); loadings persisted in the meta
        from .pca_model import fit_pca_state

        if "PCA_EXPLAINED_VARIANCE_RATIO" in opts:
            raise ValueError(
                "PCA_EXPLAINED_VARIANCE_RATIO is not supported; pass"
                " NUM_PRINCIPAL_COMPONENTS (the engine's deterministic"
                " power-iteration fit needs an explicit component count)"
            )
        if "NUM_PRINCIPAL_COMPONENTS" not in opts:
            raise ValueError(
                "PCA requires NUM_PRINCIPAL_COMPONENTS in OPTIONS"
            )
        scale = opts.get("SCALE_FEATURES", False)
        if isinstance(scale, str):
            scale = scale.strip("'\"").upper() == "TRUE"
        state = fit_pca_state(
            df, int(opts["NUM_PRINCIPAL_COMPONENTS"]), bool(scale)
        )
        registry.save_meta(
            name,
            {
                "model_type": "PCA",
                "pca": state,
                "source_sql": query,
                "transform_sql": transform_sql,
                **({"vocab_aux": vocab_aux} if vocab_aux else {}),
            },
        )
        return df
    if model_type == "AUTOENCODER":
        # linear autoencoder == PCA subspace (Baldi & Hornik 1989);
        # bottleneck = min(HIDDEN_UNITS). Divergences documented in
        # ml/pca_model.py.
        from .pca_model import fit_pca_state

        hu = opts.get("HIDDEN_UNITS", [2])
        if not isinstance(hu, list):
            hu = [hu]
        k = min(int(h) for h in hu)
        scale = opts.get("SCALE_FEATURES", True)
        if isinstance(scale, str):
            scale = scale.strip("'\"").upper() != "FALSE"
        state = fit_pca_state(df, k, bool(scale))
        registry.save_meta(
            name,
            {
                "model_type": "AUTOENCODER",
                "pca": state,
                "source_sql": query,
                "transform_sql": transform_sql,
                **({"vocab_aux": vocab_aux} if vocab_aux else {}),
            },
        )
        return df
    if model_type == "MATRIX_FACTORIZATION":
        # collaborative filtering -> Spark ALS (the same alternating-
        # least-squares family BigQuery documents for this model type).
        # seed fixed for reproducibility; factors are still not
        # SQL-reproducible, so the registry entry is rows-only and the
        # pytest checks fit quality + determinism instead of an oracle.
        from pyspark.ml import Pipeline as _Pipeline
        from pyspark.ml.feature import StringIndexer as _SI
        from pyspark.ml.recommendation import ALS

        user_col = str(opts.get("USER_COL", "user")).strip("'\"")
        item_col = str(opts.get("ITEM_COL", "item")).strip("'\"")
        rating_col = str(opts.get("RATING_COL", "rating")).strip("'\"")
        feedback = (
            str(opts.get("FEEDBACK_TYPE", "EXPLICIT")).strip("'\"").upper()
        )
        for c in (user_col, item_col, rating_col):
            if c not in df.columns:
                raise ValueError(
                    f"MATRIX_FACTORIZATION: column {c!r} missing from the"
                    f" training query (have {df.columns})"
                )
        stages = [
            _SI(
                inputCol=user_col,
                outputCol=f"__{user_col}_idx",
                handleInvalid="keep",
            ),
            _SI(
                inputCol=item_col,
                outputCol=f"__{item_col}_idx",
                handleInvalid="keep",
            ),
            ALS(
                rank=int(opts.get("NUM_FACTORS", 16)),
                maxIter=int(opts.get("MAX_ITERATIONS", 20)),
                regParam=float(opts.get("L2_REG", 1.0)),
                implicitPrefs=feedback == "IMPLICIT",
                userCol=f"__{user_col}_idx",
                itemCol=f"__{item_col}_idx",
                ratingCol=rating_col,
                seed=42,
                coldStartStrategy="drop",
            ),
        ]
        model = strip_training_summary(
            _Pipeline(stages=stages).fit(
                df.withColumn(user_col, F.col(user_col).cast("string"))
                .withColumn(item_col, F.col(item_col).cast("string"))
            )
        )
        dest = registry.path(name)
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        save_model(model, dest)
        registry.save_meta(
            name,
            {
                "model_type": "MATRIX_FACTORIZATION",
                "label": rating_col,
                "user_col": user_col,
                "item_col": item_col,
                "rating_col": rating_col,
                "feedback": feedback,
                "source_sql": query,
                "transform_sql": transform_sql,
                **({"vocab_aux": vocab_aux} if vocab_aux else {}),
            },
        )
        return df
    num_trials = int(opts.pop("NUM_TRIALS", 0) or 0)
    hp_specs: dict = {}
    for k, v in list(opts.items()):
        if isinstance(v, str) and re.match(r"HPARAM_", v, re.IGNORECASE):
            if k not in _TUNABLE_HPARAMS:
                raise ValueError(
                    f"hyperparameter {k} is not tunable — supported:"
                    f" {', '.join(sorted(_TUNABLE_HPARAMS))}"
                )
            hp_specs[k] = _parse_hparam_spec(v)
            del opts[k]
    if hp_specs and not num_trials:
        # BigQuery rejects HPARAM_* without NUM_TRIALS; dropping the
        # spec silently would train with defaults the user didn't ask
        raise ValueError(
            "HPARAM_RANGE/HPARAM_CANDIDATES require NUM_TRIALS"
        )
    # sparse one-hot/multi-hot encoder outputs: record fixed dense
    # widths (one bounded agg job) and feed the model their dense
    # twins — VectorAssembler takes vectors, not struct arrays
    encoded_cols = [c for c, t in df.dtypes if t == _ENCODED_DTYPE]
    onehot_dense: dict[str, int] = {}
    if encoded_cols:
        aggs = [
            F.max(
                F.expr(f"array_max(transform(`{c}`, __s -> __s.index))")
            ).alias(c)
            for c in encoded_cols
        ]
        row = df.agg(*aggs).collect()[0]
        onehot_dense = {
            c: int(row[c] if row[c] is not None else 0) + 1
            for c in encoded_cols
        }
        df = _densify_encoded(df, {"onehot_dense": onehot_dense})
    dense_sizes = {f"{c}__dense": w for c, w in onehot_dense.items()}
    train_df, split_meta = _resolve_split(df, opts)
    split_col = split_meta.get("split_col")
    feature_cols = [
        c
        for c, t in df.dtypes
        if c != label
        and c != split_col
        and t not in ("string", _ENCODED_DTYPE)
    ]
    hyper = {
        k: v
        for k, v in opts.items()
        if k
        in (
            "MAX_ITERATIONS",
            "LEARN_RATE",
            "L2_REG",
            "MAX_TREE_DEPTH",
            "NUM_PARALLEL_TREE",
            "HIDDEN_UNITS",
            "EARLY_STOP",
            "MIN_REL_PROGRESS",
        )
    }
    if model_type in ("LOGISTIC_REG", "LINEAR_REG"):
        # BQML's documented default is max_iterations = 20; Spark's
        # LBFGS default of 100 both diverges from that and costs 5x the
        # passes (the DNN/tree types keep their own tuned defaults)
        hyper.setdefault("MAX_ITERATIONS", 20)
    trials_meta: list[dict] = []
    best_loss_hist: list[float] = []
    if num_trials and hp_specs:
        # hyperparameter tuning: fit every trial on the training split,
        # score on the reserved split (fall back to the training frame
        # when AUTO_SPLIT decided the input was too small to split —
        # documented), keep the best fitted model. Deterministic grid
        # in place of BigQuery's Bayesian search (_hparam_trials).
        from pyspark.ml.evaluation import (
            MulticlassClassificationEvaluator,
            RegressionEvaluator,
        )

        pred = split_meta.get("holdout_predicate")
        eval_df = df.filter(F.expr(pred)) if pred else train_df
        classifier = is_classifier(model_type)
        if classifier:
            objective, better = "accuracy", lambda a, b: a > b
        else:
            objective, better = "rmse", lambda a, b: a < b

        def _run_trial(trial_hp: dict):
            fitted = build_pipeline(
                model_type, feature_cols, label, {**hyper, **trial_hp},
                vector_sizes=dense_sizes,
            ).fit(train_df)
            # capture the loss curve BEFORE stripping the summary —
            # evaluate() serializes the model into tasks, and a
            # summary-carrying model drags the SparkSession (and its
            # non-serializable ObservationManager) along; see
            # estimators.strip_training_summary
            try:
                trial_hist = [
                    float(x)
                    for x in fitted.stages[-1].summary.objectiveHistory
                ]
            except Exception:
                trial_hist = []
            strip_training_summary(fitted)
            # evaluator per trial: the shared JavaEvaluator would race
            # its param transfer across threads
            evaluator = (
                MulticlassClassificationEvaluator(
                    labelCol=label, metricName="accuracy"
                )
                if classifier
                else RegressionEvaluator(labelCol=label, metricName="rmse")
            )
            val = float(evaluator.evaluate(fitted.transform(eval_df)))
            return fitted, trial_hist, val

        # Overlap the independent trial fits (optimization guide §2.6):
        # Spark happily runs concurrent jobs, and each trial's fit is a
        # chain of small jobs that leaves most cores idle — 2-3 in
        # flight back-fill the tail. Per-trial results are computed on
        # the same frozen train_df with per-trial estimator instances,
        # so values are identical to the sequential loop; pool.map
        # preserves trial order.
        from concurrent.futures import ThreadPoolExecutor

        try:
            from pyspark import inheritable_thread_target

            _wrap = inheritable_thread_target
        except ImportError:  # pragma: no cover - very old pyspark
            def _wrap(f):
                return f

        trial_hps = _hparam_trials(hp_specs, num_trials)
        with ThreadPoolExecutor(
            max_workers=min(3, max(len(trial_hps), 1))
        ) as pool:
            results = list(pool.map(_wrap(_run_trial), trial_hps))
        best_val, model = None, None
        for i, (trial_hp, (fitted, trial_hist, val)) in enumerate(
            zip(trial_hps, results)
        ):
            trials_meta.append(
                {
                    "trial_id": i + 1,
                    "hparams": {k.lower(): v for k, v in trial_hp.items()},
                    "objective": objective,
                    "value": round(val, 6),
                    "status": "SUCCEEDED",
                }
            )
            if best_val is None or better(val, best_val):
                best_val, model = val, fitted
                best_loss_hist = trial_hist
        best_i = max(
            range(len(trials_meta)),
            key=lambda i: (
                trials_meta[i]["value"]
                if classifier
                else -trials_meta[i]["value"],
                # earlier trial wins exact ties, matching the loop
                -i,
            ),
        )
        for i, t in enumerate(trials_meta):
            t["is_optimal"] = i == best_i
    else:
        pipeline = build_pipeline(
            model_type, feature_cols, label, hyper,
            vector_sizes=dense_sizes,
        )
        model = pipeline.fit(train_df)
    dest = registry.path(name)
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    # per-iteration objective history (Spark summaries exist only on
    # the freshly fitted estimator, never after reload) — persisted for
    # ML.TRAINING_INFO
    loss_hist: list[float] = list(best_loss_hist)
    if not loss_hist:
        try:
            summ = model.stages[-1].summary
            loss_hist = [float(x) for x in summ.objectiveHistory]
        except Exception:
            pass
    strip_training_summary(model)
    save_model(model, dest)
    registry.save_meta(
        name,
        {
            "model_type": model_type,
            "label": label,
            "features": feature_cols,
            **({"loss_history": loss_hist} if loss_hist else {}),
            # persisted so no-input ML.EVALUATE can rebuild the held-out
            # split (BigQuery's evaluate-on-reserved-split behavior);
            # source_sql already includes the TRANSFORM projection
            "source_sql": query,
            "data_split": split_meta,
            # raw clause replayed over ML.PREDICT / ML.EVALUATE inputs
            # (vocabulary encoders already inlined as literal maps)
            "transform_sql": transform_sql,
            **({"vocab_aux": vocab_aux} if vocab_aux else {}),
            **({"onehot_dense": onehot_dense} if onehot_dense else {}),
            **({"trials": trials_meta} if trials_meta else {}),
        },
    )
    return df


_MODEL_ARG_RE = re.compile(r"MODEL\s+`?([\w.\-]+)`?", re.IGNORECASE)


def sub_model_calls(text: str, names: tuple[str, ...], fn) -> str:
    """``text`` with every call in code of a function in ``names``
    (regex alternatives, as for ``sqllex.iter_calls``) whose first
    argument is ``MODEL m`` replaced by ``fn(fn_name_lower, m, args)``.
    ``args`` are the remaining arguments, each already rewritten the
    same way, so the innermost call is replaced first. A call without a
    ``MODEL`` argument (``ML.PREDICT()``) stays as written."""
    out: list[str] = []
    pos = 0
    for start, open_idx, end, fn_name in iter_calls(text, names):
        args = split_top_level(text[open_idx + 1 : end - 1])
        mm = _MODEL_ARG_RE.fullmatch(args[0].strip())
        if mm is None:
            continue
        rest = [sub_model_calls(a, names, fn).strip() for a in args[1:]]
        out += [text[pos:start], fn(fn_name, mm.group(1), rest)]
        pos = end
    out.append(text[pos:])
    return "".join(out)


def _inner_query(arg: str) -> str:
    arg = arg.strip()
    return arg[1:-1] if arg.startswith("(") and arg.endswith(")") else arg


def _load(registry: ModelRegistry, name: str) -> tuple[PipelineModel, dict]:
    return load_model(registry.path(name)), registry.load_meta(name)


def _score_mf(model, meta: dict, df: DataFrame) -> DataFrame:
    """Score user-item rows through a MATRIX_FACTORIZATION pipeline:
    cast the id columns to string (the indexers' input type) and emit
    BigQuery's ``predicted_<rating_col>`` output name."""
    u, i = meta["user_col"], meta["item_col"]
    out = model.transform(
        df.withColumn(u, F.col(u).cast("string")).withColumn(
            i, F.col(i).cast("string")
        )
    ).withColumnRenamed("prediction", f"predicted_{meta['rating_col']}")
    return out.drop(f"__{u}_idx", f"__{i}_idx")


# -- ML table-function handlers ---------------------------------------
#
# Each handler takes (spark, registry, model name, the call's arguments
# after MODEL m, the statement's WITH clause) and returns the call's
# result; rewrite_ml_calls registers it as a view.


def _ml_transform(spark, registry, name, args, cte) -> DataFrame:
    """``ML.TRANSFORM(MODEL m, (q))``: the input query run through the
    model's persisted TRANSFORM clause — BigQuery's way to inspect
    exactly the features a model would see. Models created without a
    TRANSFORM clause pass the input through unchanged (same as
    BigQuery)."""
    meta = registry.load_meta(name)
    if not args:
        raise ValueError("ML.TRANSFORM needs (MODEL m, (query))")
    return _apply_transform(
        spark, _inner_query(args[0]), meta, cte, drop_label=False,
        densify=False,
    )


def _ml_feature_info(spark, registry, name, args, cte) -> DataFrame:
    """``ML.FEATURE_INFO(MODEL m)``: the per-feature training statistics
    (BigQuery's column shape: input, min, max, mean, stddev,
    category_count, null_count). Stats are recomputed from the persisted
    (transformed) training source — the same rows the fit consumed — so
    the DuckDB oracle can reproduce every value; numeric features report
    min/max/mean/stddev, categorical (string) features report
    category_count."""
    meta = registry.load_meta(name)
    src = meta.get("source_sql")
    if not src:
        raise ValueError(
            f"ML.FEATURE_INFO(MODEL `{name}`): this model predates"
            " source persistence — retrain it"
        )
    df = spark.sql(src)
    label = meta.get("label")
    split_col = meta.get("data_split", {}).get("split_col")
    feats = [(c, t) for c, t in df.dtypes if c != label and c != split_col]
    # ONE aggregation pass over all features (a per-column agg loop
    # would be N scans of the training source at scale)
    aggs = []
    for i, (c, t) in enumerate(feats):
        if t == "string" or t.startswith(("array<", "struct<")):
            # categorical / encoded (sparse one-hot) features:
            # category_count + nulls, no numeric moments
            aggs += [
                F.count_distinct(F.col(c)).alias(f"cc_{i}"),
                F.count_if(F.col(c).isNull()).alias(f"nulls_{i}"),
            ]
        else:
            aggs += [
                F.round(F.min(F.col(c)).cast("double"), 6).alias(f"mn_{i}"),
                F.round(F.max(F.col(c)).cast("double"), 6).alias(f"mx_{i}"),
                F.round(F.avg(F.col(c)), 6).alias(f"mean_{i}"),
                F.round(F.stddev_samp(F.col(c)), 6).alias(f"sd_{i}"),
                F.count_if(F.col(c).isNull()).alias(f"nulls_{i}"),
            ]
    agg = df.agg(*aggs).first() if aggs else None
    rows = []
    for i, (c, t) in enumerate(feats):
        if t == "string" or t.startswith(("array<", "struct<")):
            rows.append(
                (
                    c,
                    None,
                    None,
                    None,
                    None,
                    int(agg[f"cc_{i}"]),
                    int(agg[f"nulls_{i}"]),
                )
            )
        else:
            rows.append(
                (
                    c,
                    agg[f"mn_{i}"],
                    agg[f"mx_{i}"],
                    agg[f"mean_{i}"],
                    agg[f"sd_{i}"],
                    None,
                    int(agg[f"nulls_{i}"]),
                )
            )
    return spark.createDataFrame(
        rows,
        "input string, min double, max double, mean double,"
        " stddev double, category_count bigint, null_count bigint",
    )


def _ml_confusion_matrix(spark, registry, name, args, cte) -> DataFrame:
    """``ML.CONFUSION_MATRIX(MODEL m, (q)[, STRUCT(t AS threshold)])``:
    the binary confusion grid at the given threshold (default 0.5) —
    BigQuery's shape: expected_label, row-per-actual with predicted
    counts pivoted into columns ``_0`` / ``_1`` (classifier models
    only)."""
    model, meta = _load(registry, name)
    if not is_classifier(meta["model_type"]):
        raise ValueError(
            f"ML.CONFUSION_MATRIX: model `{name}` is not a classifier"
        )
    threshold = 0.5
    inner = None
    for a in args:
        m_t = re.search(
            r"STRUCT\s*\(\s*([0-9.]+)\s+AS\s+threshold\s*\)",
            a,
            re.IGNORECASE,
        )
        if m_t:
            threshold = float(m_t.group(1))
        elif a.strip().startswith("("):
            inner = _inner_query(a)
    if inner is None:
        raise ValueError("ML.CONFUSION_MATRIX needs (MODEL m, (query))")
    df = _apply_transform(spark, inner, meta, cte, drop_label=False)
    label = meta["label"]
    scored = predict_with_probability(model, df)
    pred = F.when(F.col("probability") >= threshold, 1).otherwise(0)
    return (
        scored.select(
            F.col(label).cast("string").alias("expected_label"),
            pred.alias("p"),
        )
        .groupBy("expected_label")
        .agg(
            F.count_if(F.col("p") == 0).alias("_0"),
            F.count_if(F.col("p") == 1).alias("_1"),
        )
        .orderBy("expected_label")
    )


ROC_THRESHOLDS = [i / 20.0 for i in range(21)]


def _ml_roc_curve(spark, registry, name, args, cte) -> DataFrame:
    """``ML.ROC_CURVE(MODEL m, (q))``: the threshold table in BigQuery's
    shape (threshold, recall, false_positive_rate, true_positives,
    false_positives, true_negatives, false_negatives) over a fixed
    21-point threshold grid (BigQuery picks its own grid; the metric
    definitions are identical). One aggregation pass — the grid is
    computed from per-threshold conditional counts, not 21 scans."""
    model, meta = _load(registry, name)
    if not is_classifier(meta["model_type"]):
        raise ValueError(f"ML.ROC_CURVE: model `{name}` is not a classifier")
    if not args:
        raise ValueError("ML.ROC_CURVE needs (MODEL m, (query))")
    df = _apply_transform(
        spark, _inner_query(args[0]), meta, cte, drop_label=False
    )
    label = meta["label"]
    scored = predict_with_probability(model, df).select(
        F.col(label).cast("int").alias("y"),
        F.col("probability").alias("p"),
    )
    aggs = []
    for i, t in enumerate(ROC_THRESHOLDS):
        hit = F.col("p") >= F.lit(t)
        aggs += [
            F.count_if(hit & (F.col("y") == 1)).alias(f"tp_{i}"),
            F.count_if(hit & (F.col("y") == 0)).alias(f"fp_{i}"),
            F.count_if(~hit & (F.col("y") == 0)).alias(f"tn_{i}"),
            F.count_if(~hit & (F.col("y") == 1)).alias(f"fn_{i}"),
        ]
    row = scored.agg(*aggs).first()
    out_rows = []
    for i, t in enumerate(ROC_THRESHOLDS):
        tp, fp = int(row[f"tp_{i}"]), int(row[f"fp_{i}"])
        tn, fn = int(row[f"tn_{i}"]), int(row[f"fn_{i}"])
        recall = tp / (tp + fn) if tp + fn else None
        fpr = fp / (fp + tn) if fp + tn else None
        out_rows.append(
            (
                t,
                round(recall, 6) if recall is not None else None,
                round(fpr, 6) if fpr is not None else None,
                tp,
                fp,
                tn,
                fn,
            )
        )
    return spark.createDataFrame(
        out_rows,
        "threshold double, recall double, false_positive_rate double,"
        " true_positives bigint, false_positives bigint,"
        " true_negatives bigint, false_negatives bigint",
    )


def _ml_explain_predict(spark, registry, name, args, cte) -> DataFrame:
    """``ML.EXPLAIN_PREDICT(MODEL m, (q)[, STRUCT(k AS
    top_k_features)])``: per-row predictions plus the top-k feature
    attributions. For linear/logistic models the attribution is the
    exact local contribution coef * feature_value (BigQuery uses the
    same for linear models); tree/MLP models raise a targeted error
    naming ML.GLOBAL_EXPLAIN as the supported alternative."""
    model, meta = _load(registry, name)
    if meta["model_type"] not in ("LOGISTIC_REG", "LINEAR_REG"):
        raise ValueError(
            "ML.EXPLAIN_PREDICT: per-row attributions are supported"
            " for LOGISTIC_REG/LINEAR_REG (coef * value); for"
            f" {meta['model_type']} use ML.GLOBAL_EXPLAIN"
        )
    top_k = 3
    inner = None
    for a in args:
        m_k = re.search(
            r"STRUCT\s*\(\s*(\d+)\s+AS\s+top_k_features\s*\)",
            a,
            re.IGNORECASE,
        )
        if m_k:
            top_k = int(m_k.group(1))
        elif a.strip().startswith("("):
            inner = _inner_query(a)
    if inner is None:
        raise ValueError("ML.EXPLAIN_PREDICT needs (MODEL m, (query))")
    df = _apply_transform(spark, inner, meta, cte, drop_label=True)
    coefs = dict(_model_feature_rows(model, meta))
    coefs.pop("__INTERCEPT__", None)
    contribs = F.array(
        *[
            F.struct(
                F.lit(c).alias("feature"),
                F.round(F.col(c) * F.lit(w), 6).alias("attribution"),
            )
            for c, w in coefs.items()
        ]
    )
    ranked = F.slice(
        F.reverse(
            F.array_sort(
                contribs,
                lambda a, b: F.when(
                    F.abs(a["attribution"]) < F.abs(b["attribution"]),
                    -1,
                )
                .when(F.abs(a["attribution"]) > F.abs(b["attribution"]), 1)
                .otherwise(0),
            )
        ),
        1,
        top_k,
    )
    return predict_output(model, meta["model_type"], df).withColumn(
        "top_feature_attributions", ranked
    )


def _ml_recommend(spark, registry, name, args, cte) -> DataFrame:
    """``ML.RECOMMEND(MODEL m[, (user query)])``: scored user-item
    pairs. BigQuery semantics: without an input, every (user, item) pair
    from the training data is scored; with an input query, only the
    input's users are paired against all training items. The
    users-by-items cross product is intentional — identical to BigQuery,
    which warns about its size; at scale pass an input query (the cross
    join then broadcasts the item side, |items| rows)."""
    model, meta = _load(registry, name)
    if meta["model_type"] != "MATRIX_FACTORIZATION":
        raise ValueError(
            f"ML.RECOMMEND: model `{name}` is"
            f" {meta['model_type']}, not MATRIX_FACTORIZATION"
        )
    u, i = meta["user_col"], meta["item_col"]
    src = spark.sql(meta["source_sql"])
    users = (
        spark.sql(_inner_query(args[0])).select(u).distinct()
        if args
        else src.select(u).distinct()
    )
    items = src.select(i).distinct()
    return _score_mf(model, meta, users.crossJoin(F.broadcast(items)))


def _ml_predict(spark, registry, name, args, cte) -> DataFrame:
    """``ML.PREDICT(MODEL m, (q))``: the scored input query."""
    inner = _inner_query(args[0])
    meta = registry.load_meta(name)
    if meta["model_type"] in ("KMEANS", "PCA", "AUTOENCODER"):
        src = _apply_transform(spark, inner, meta, cte, drop_label=True)
        if meta["model_type"] == "KMEANS":
            from .kmeans import assign_frame

            return assign_frame(spark, meta["kmeans"], src)
        from .pca_model import project_frame

        scored = project_frame(spark, meta["pca"], src)
        if meta["model_type"] == "AUTOENCODER":
            # BigQuery's autoencoder latent column names
            for i in range(len(meta["pca"]["components"])):
                scored = scored.withColumnRenamed(
                    f"principal_component_{i + 1}", f"latent_col_{i}"
                )
        return scored
    model = load_model(registry.path(name))
    df = _apply_transform(spark, inner, meta, cte, drop_label=True)
    if meta["model_type"] == "MATRIX_FACTORIZATION":
        return _score_mf(model, meta, df)
    return predict_output(model, meta["model_type"], df)


EMBED_DIM = 8


def _ml_generate_embedding(spark, registry, name, args, cte) -> DataFrame:
    """``ML.GENERATE_EMBEDDING(MODEL m, (q))``: the input rows plus
    ``ml_generate_embedding_result`` (ARRAY<FLOAT64>) and
    ``ml_generate_embedding_status`` ('' on success) — BigQuery's output
    contract for text embedding (the input query must expose a
    ``content`` STRING column).

    DOCUMENTED DIVERGENCE: BigQuery delegates to a hosted remote model
    over a connection; no such endpoint exists in-cluster, so the
    engine substitutes a deterministic signed feature-hashing
    projector (SimHash-style random projection of the hashed
    bag-of-tokens — Charikar 2002; Weinberger et al. 2009): dimension
    d of a document is the sum of ±1 votes hash(token:d) over its
    tokens, L2-normalized. The vectors are NOT semantically comparable
    to a neural embedder's, but they are reproducible across engines
    (md5-prefix hash, oracle-checkable) and preserve token-overlap
    cosine structure — exactly the property downstream VECTOR_SEARCH /
    ANN pipelines exercise end-to-end. The model name is accepted and
    logged, never required to exist (BigQuery's remote models hold no
    local state). Everything is JVM-side HOFs: the embed pass is
    map-only at any corpus size."""
    from ..functions import hash_str

    if not args:
        raise ValueError("ML.GENERATE_EMBEDDING needs (MODEL m, (query))")
    df = spark.sql(_inner_query(args[0]))
    if "content" not in df.columns:
        raise ValueError(
            "ML.GENERATE_EMBEDDING: the input query must expose a"
            " 'content' STRING column (BigQuery's contract)"
        )
    toks = F.filter(
        F.split(F.lower(F.col("content")), "[^a-z0-9]+"),
        lambda x: x != "",
    )
    # ONE fold with an EMBED_DIM-wide accumulator instead of
    # EMBED_DIM separate aggregates (r11, guide §1.2): HOF lambdas
    # evaluate interpreted, so the old shape re-split and re-hashed
    # the content once per dimension. Per-dimension vote order is
    # unchanged (outer fold over tokens, inner zip over dims), so
    # the sums are IEEE-identical.
    suffixes = F.array(*[F.lit(f":{d}") for d in range(EMBED_DIM)])
    zero = F.array(*[F.lit(0.0) for _ in range(EMBED_DIM)])
    emb = F.aggregate(
        F.col("__ge_toks"),
        zero,
        lambda acc, t: F.zip_with(
            acc,
            suffixes,
            lambda a, sfx: a
            + F.when(
                F.pmod(hash_str(F.concat(t, sfx)), F.lit(2)) == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        ),
    )
    norm = F.sqrt(F.aggregate(emb, F.lit(0.0), lambda a, x: a + x * x))
    result = F.when(
        norm > 0, F.transform(emb, lambda x: x / norm)
    ).otherwise(emb)
    return (
        df.withColumn("__ge_toks", toks)
        .withColumn("ml_generate_embedding_result", result)
        .withColumn("ml_generate_embedding_status", F.lit(""))
        .drop("__ge_toks")
    )


def _model_feature_rows(model, meta: dict) -> list[tuple[str, float]]:
    """(feature, attribution) pairs from the fitted estimator: linear
    models expose coefficients, tree ensembles featureImportances."""
    est = model.stages[-1]
    feats = meta["features"]
    if hasattr(est, "coefficients"):
        vals = [float(x) for x in est.coefficients]
    elif hasattr(est, "featureImportances"):
        vals = [float(est.featureImportances[i]) for i in range(len(feats))]
    else:
        raise ValueError(
            f"{meta['model_type']} exposes no weights/importances "
            "(DNN models: inspect the saved network artifact instead)"
        )
    return list(zip(feats, vals))


def _ml_training_info(spark, registry, name, args, cte) -> DataFrame:
    """``ML.TRAINING_INFO(MODEL m)``: the per-iteration training table
    in BigQuery's column shape (training_run, iteration, loss,
    eval_loss, learning_rate, duration_ms). The loss column is the REAL
    optimizer objective history Spark's summary exposed at fit time
    (persisted in the meta — summaries do not survive model reload);
    eval_loss / learning_rate / duration_ms are NULL — Spark's
    LBFGS/OWLQN exposes no per-iteration eval pass, step size, or wall
    time (documented). Models whose estimator has no objective history
    (tree ensembles) reject loudly naming ML.FEATURE_IMPORTANCE
    instead."""
    meta = registry.load_meta(name)
    hist = meta.get("loss_history")
    if not hist:
        raise ValueError(
            f"ML.TRAINING_INFO: {meta['model_type']} exposes no"
            " per-iteration objective history (tree ensembles:"
            " inspect ML.FEATURE_IMPORTANCE / ML.GLOBAL_EXPLAIN)"
        )
    rows = [
        (1, i, round(float(loss), 6), None, None, None)
        for i, loss in enumerate(hist)
    ]
    return spark.createDataFrame(
        rows,
        "training_run bigint, iteration bigint, loss double,"
        " eval_loss double, learning_rate double, duration_ms bigint",
    )


def _ml_feature_importance(spark, registry, name, args, cte) -> DataFrame:
    """``ML.FEATURE_IMPORTANCE(MODEL m)``: (feature, importance_weight,
    importance_gain, importance_cover) for tree ensembles — BigQuery's
    boosted-tree importance table. importance_weight carries Spark's
    impurity-based featureImportances; gain/cover are NULL (Spark MLlib
    exposes a single importance measure — documented divergence)."""
    model, meta = _load(registry, name)
    est = model.stages[-1]
    if not hasattr(est, "featureImportances"):
        raise ValueError(
            f"ML.FEATURE_IMPORTANCE needs a tree-ensemble model"
            f" (BOOSTED_TREE_*/RANDOM_FOREST_*), got"
            f" {meta['model_type']} — linear models: ML.WEIGHTS"
        )
    rows = [
        (f, round(float(est.featureImportances[i]), 6), None, None)
        for i, f in enumerate(meta["features"])
    ]
    return spark.createDataFrame(
        rows,
        "feature string, importance_weight double,"
        " importance_gain double, importance_cover double",
    )


def _pca_state(registry, name) -> dict:
    meta = registry.load_meta(name)
    if meta["model_type"] != "PCA":
        raise ValueError(
            "ML.PRINCIPAL_COMPONENTS/_INFO requires a PCA model,"
            f" got {meta['model_type']}"
        )
    return meta["pca"]


def _ml_principal_components(spark, registry, name, args, cte) -> DataFrame:
    """``ML.PRINCIPAL_COMPONENTS(MODEL m)``: the loading table in
    BigQuery's column shape (PCA docs)."""
    from .pca_model import principal_components_frame

    return principal_components_frame(spark, _pca_state(registry, name))


def _ml_principal_component_info(
    spark, registry, name, args, cte
) -> DataFrame:
    """``ML.PRINCIPAL_COMPONENT_INFO(MODEL m)``: the eigenvalue table in
    BigQuery's column shape (PCA docs)."""
    from .pca_model import principal_component_info_frame

    return principal_component_info_frame(spark, _pca_state(registry, name))


def _ml_centroids(spark, registry, name, args, cte) -> DataFrame:
    """``ML.CENTROIDS(MODEL m)``: (centroid_id, feature,
    numerical_value) rows in the original feature space — BigQuery's
    KMEANS centroid table (clustering docs)."""
    meta = registry.load_meta(name)
    if meta["model_type"] != "KMEANS":
        raise ValueError(
            f"ML.CENTROIDS requires a KMEANS model, got {meta['model_type']}"
        )
    from .kmeans import centroids_frame

    return centroids_frame(spark, meta["kmeans"])


def _ml_weights(spark, registry, name, args, cte) -> DataFrame:
    """``ML.WEIGHTS(MODEL m)``: (processed_input, weight) rows — the
    linear-model coefficient table BigQuery exposes (plus the intercept
    row BigQuery labels __INTERCEPT__)."""
    model, meta = _load(registry, name)
    est = model.stages[-1]
    if not hasattr(est, "coefficients"):
        raise ValueError(
            f"ML.WEIGHTS requires a linear model; {meta['model_type']} "
            "has none — use ML.GLOBAL_EXPLAIN for tree importances"
        )
    rows = [
        (f, round(w, 6)) for f, w in _model_feature_rows(model, meta)
    ] + [("__INTERCEPT__", round(float(est.intercept), 6))]
    return spark.createDataFrame(rows, "processed_input string, weight double")


def _ml_trial_info(spark, registry, name, args, cte) -> DataFrame:
    """``ML.TRIAL_INFO(MODEL m)``: one row per hyperparameter-tuning
    trial: trial_id, hyperparameters (sorted-key JSON — BigQuery's
    STRUCT flattened to a stable string), objective/objective_value
    (its hparam_tuning_evaluation_metrics), status, is_optimal. Errors
    descriptively for models trained without NUM_TRIALS."""
    import json

    trials = registry.load_meta(name).get("trials")
    if not trials:
        raise ValueError(
            f"model {name} was not hyperparameter-tuned — CREATE it"
            " with NUM_TRIALS and HPARAM_RANGE/HPARAM_CANDIDATES"
            " options to get ML.TRIAL_INFO output"
        )
    rows = [
        (
            t["trial_id"],
            json.dumps(t["hparams"], sort_keys=True),
            t["objective"],
            float(t["value"]),
            t["status"],
            bool(t["is_optimal"]),
        )
        for t in trials
    ]
    return spark.createDataFrame(
        rows,
        "trial_id bigint, hyperparameters string, objective string,"
        " objective_value double, status string, is_optimal boolean",
    )


def _ml_global_explain(spark, registry, name, args, cte) -> DataFrame:
    """``ML.GLOBAL_EXPLAIN(MODEL m)``: (feature, attribution) rows,
    attribution descending — |coefficient| for linear models,
    featureImportances for tree ensembles (BigQuery's global feature
    attribution table; its Shapley variants for trees are approximated
    by the ensemble's own impurity importances, documented)."""
    model, meta = _load(registry, name)
    rows = sorted(
        ((f, round(abs(w), 6)) for f, w in _model_feature_rows(model, meta)),
        key=lambda t: (-t[1], t[0]),
    )
    return spark.createDataFrame(rows, "feature string, attribution double")


def _ml_evaluate(spark, registry, name, args, cte) -> DataFrame:
    """``ML.EVALUATE(MODEL m[, (q)])``: a 1-row metrics table (one row
    per series for ARIMA_PLUS)."""
    meta = registry.load_meta(name)
    model_type = meta["model_type"]
    if model_type in ("KMEANS", "AUTOENCODER"):
        # clustering metrics (Davies-Bouldin + mean squared distance)
        # or reconstruction-quality metrics over the input; no input ->
        # the training input, as in BigQuery
        if args:
            df = _apply_transform(
                spark, _inner_query(args[0]), meta, cte, drop_label=True
            )
        else:
            # source_sql already embeds the TRANSFORM wrap
            df = spark.sql(meta["source_sql"])
        if model_type == "KMEANS":
            from .kmeans import evaluate_frame

            return evaluate_frame(spark, meta["kmeans"], df)
        from .pca_model import autoencoder_evaluate_frame

        return autoencoder_evaluate_frame(spark, meta["pca"], df)
    if model_type == "PCA":
        # BigQuery's PCA evaluate row: total explained variance
        from .kmeans import _round6

        st = meta["pca"]
        tot = st["total_var"]
        ratio = _round6(sum(st["eigenvalues"]) / tot) if tot > 0 else 0.0
        return spark.createDataFrame(
            [(ratio,)], "total_explained_variance_ratio double"
        )
    if model_type == "ARIMA_PLUS":
        # per-series fit diagnostics from the Holt state: one-step
        # residual RMSE + observation count (BigQuery's ARIMA evaluate
        # reports its own fit stats; same role). The input query, when
        # given, is ignored — as in BigQuery, ARIMA evaluation describes
        # the fitted model.
        import math

        rows = [
            (
                s["series_id"],
                round(
                    math.sqrt(s["sse"] / s.get("n_resid", s["n_obs"] - 1)), 6
                ),
                int(s["n_obs"]),
            )
            for s in meta["state"]
        ]
        return spark.createDataFrame(
            rows, "series_id string, rmse double, n_obs int"
        )
    if args:
        # evaluation inputs carry the label, so the full TRANSFORM list
        # (label pass-through included) replays over them
        df = _apply_transform(
            spark, _inner_query(args[0]), meta, cte, drop_label=False
        )
        return _metrics_frame(spark, registry, name, df)
    # BigQuery evaluates on the reserved training split when the input
    # query is omitted. CREATE MODEL persists the source SQL + holdout
    # hash predicate, so rebuild that split here; models trained before
    # the split was persisted (or whose source tables have vanished)
    # still fail loudly.
    src = meta.get("source_sql")
    if not src:
        raise ValueError(
            f"ML.EVALUATE(MODEL `{name}`) without an input query "
            "needs the persisted training split, but this model "
            "predates split persistence — retrain it, or pass "
            "ML.EVALUATE(MODEL `m`, (SELECT <features>, <label> "
            "FROM ...))"
        )
    try:
        df = spark.sql(src)
    except Exception as exc:
        raise ValueError(
            f"ML.EVALUATE(MODEL `{name}`) could not re-read the "
            f"persisted training source ({exc}); the source tables "
            "are no longer available — pass an explicit input query"
        ) from exc
    pred = meta.get("data_split", {}).get("holdout_predicate")
    # no reserved split (NO_SPLIT / AUTO_SPLIT under 500 rows):
    # BigQuery evaluates on the entire training input
    if pred:
        df = df.filter(F.expr(pred))
    return _metrics_frame(spark, registry, name, df)


def _metrics_frame(spark, registry, name: str, df: DataFrame) -> DataFrame:
    model, meta = _load(registry, name)
    label = meta["label"]
    scored = model.transform(df)
    if is_classifier(meta["model_type"]):
        from pyspark.ml.evaluation import (
            BinaryClassificationEvaluator,
            MulticlassClassificationEvaluator,
        )

        auc = BinaryClassificationEvaluator(
            labelCol=label, rawPredictionCol="rawPrediction"
        ).evaluate(scored)
        acc = MulticlassClassificationEvaluator(
            labelCol=label, predictionCol="prediction", metricName="accuracy"
        ).evaluate(scored)
        return spark.createDataFrame(
            [(float(auc), float(acc))], "roc_auc double, accuracy double"
        )
    from pyspark.ml.evaluation import RegressionEvaluator

    rmse = RegressionEvaluator(
        labelCol=label, predictionCol="prediction", metricName="rmse"
    ).evaluate(scored)
    r2 = RegressionEvaluator(
        labelCol=label, predictionCol="prediction", metricName="r2"
    ).evaluate(scored)
    return spark.createDataFrame(
        [(float(rmse), float(r2))], "rmse double, r2 double"
    )


#: BigQuery ML table function (lower case) -> handler
_ML_CALLS = {
    "ml.predict": _ml_predict,
    "ml.explain_predict": _ml_explain_predict,
    "ml.evaluate": _ml_evaluate,
    "ml.confusion_matrix": _ml_confusion_matrix,
    "ml.roc_curve": _ml_roc_curve,
    "ml.generate_embedding": _ml_generate_embedding,
    "ml.recommend": _ml_recommend,
    "ml.transform": _ml_transform,
    "ml.feature_info": _ml_feature_info,
    "ml.trial_info": _ml_trial_info,
    "ml.weights": _ml_weights,
    "ml.centroids": _ml_centroids,
    "ml.principal_components": _ml_principal_components,
    "ml.principal_component_info": _ml_principal_component_info,
    "ml.training_info": _ml_training_info,
    "ml.feature_importance": _ml_feature_importance,
    "ml.global_explain": _ml_global_explain,
    "ml.forecast": ml_forecast,
    "ml.explain_forecast": ml_explain_forecast,
    "ml.arima_evaluate": ml_arima_evaluate,
    "ml.arima_coefficients": ml_arima_coefficients,
    "ml.detect_anomalies": ml_detect_anomalies,
}
_ML_CALL_NAMES = tuple(map(re.escape, _ML_CALLS))

#: one view number sequence for the whole process: executors sharing a
#: Spark session (parallel pipeline branches) never reuse a view name
_VIEW_IDS = itertools.count(1)


def rewrite_ml_calls(
    spark: SparkSession, stmt: str, registry: ModelRegistry
) -> str:
    """Replace every BigQuery ML table-function call in the code of
    ``stmt`` (string literals and comments are left alone) with a temp
    view of its result, named ``__ml_<fn>_<n>``. A call's arguments are
    rewritten before the call, so calls nest. The statement's WITH
    clause is re-scoped into each input query of the main query (the
    reference's SQL references outer CTEs from inside ML.* calls)."""
    if next(iter_calls(stmt, _ML_CALL_NAMES), None) is None:
        return stmt
    from ..dialect import extract_with_clause

    def register(cte: str):
        def run(fn: str, name: str, args: list[str]) -> str:
            view = f"__ml_{fn[3:]}_{next(_VIEW_IDS)}"
            df = _ML_CALLS[fn](spark, registry, name, args, cte)
            df.createOrReplaceTempView(view)
            return view

        return run

    head = extract_with_clause(stmt)
    cte = sub_model_calls(head, _ML_CALL_NAMES, register(""))
    return cte + sub_model_calls(
        stmt[len(head) :], _ML_CALL_NAMES, register(cte)
    )
