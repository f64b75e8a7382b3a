"""Output checks made apart from the engine.

Every expected value is computed here with DuckDB (or plain Python) over
the generated inputs, and compared with warehouse parquet read back
without Spark. Nothing is copied from the engine's own output except
where a check is defined over it (the range join is recomputed from the
engine's predictions and conversion-value tables, and the payloads are
compared with the engine's output rows).
"""

from __future__ import annotations

import glob
import json
import os
import string
from collections import Counter

import duckdb

#: a trained model must rank users with planted intent above the others
#: at least this well (area under the ROC curve)
AUC_FLOOR = 0.70


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    return con


def table_glob(warehouse: str, table_id: str) -> str:
    return os.path.join(warehouse, *table_id.split("."), "*.parquet")


def read_table(warehouse: str, table_id: str) -> str:
    """SQL relation over a catalog table's live parquet files."""
    path = table_glob(warehouse, table_id)
    if not glob.glob(path):
        raise AssertionError(f"table {table_id} has no parquet files")
    return f"read_parquet('{path}')"


def multiset(rows) -> Counter:
    return Counter(tuple(r) for r in rows)


def rounded(rows, ndigits: int = 2):
    """Round floats so sums accumulated in another order compare equal."""
    return [tuple(round(v, ndigits) if isinstance(v, float) else v for v in r) for r in rows]


# -- propensity_daily -----------------------------------------------------------


def dataset_sql(events: str, as_of: str, days: int, back: int, split: str, class_imbalance: int) -> str:
    """Per-user features and label over the window, with the 90/10 hash
    split and negative downsampling, written from the compiler's
    documented contract (reference model_bqml.sql)."""
    end = f"(DATE '{as_of}' - INTERVAL {back} DAY)"
    per_user = f"""
      SELECT user_id AS unique_id,
        SUM(CASE WHEN event_type = 'page_view' THEN 1 ELSE 0 END)::BIGINT AS f_page_view,
        SUM(CASE WHEN event_type = 'view_item' THEN 1 ELSE 0 END)::BIGINT AS f_view_item,
        SUM(CASE WHEN event_type = 'add_to_cart' THEN 1 ELSE 0 END)::BIGINT AS f_add_to_cart,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::INT AS label
      FROM {events}
      WHERE CAST(ts AS DATE) BETWEEN CAST({end} - INTERVAL {days} DAY AS DATE) AND CAST({end} AS DATE)
      GROUP BY user_id"""
    pred = {
        "train": "(unique_id * 9973 + 7) % 100 < 90",
        "calibrate": "(unique_id * 9973 + 7) % 100 >= 90",
        "all": "1 = 1",
    }[split]
    if split == "train":
        return f"""SELECT * FROM ({per_user}) WHERE {pred} AND label = 1
          UNION ALL
          SELECT * FROM ({per_user}) WHERE {pred} AND label = 0
            AND (unique_id * 9973 + 7) % {class_imbalance} = 0"""
    return f"SELECT * FROM ({per_user}) WHERE {pred}"


def ranges_contiguous(cv_rows: list[tuple]) -> bool:
    """(segment, start, end) rows: ordered, non-empty, contiguous, and
    spanning [0, 1]."""
    rows = sorted(cv_rows)
    if not rows or rows[0][1] != 0.0 or rows[-1][2] != 1.0:
        return False
    for (_, s, e), (_, s2, _e2) in zip(rows, rows[1:]):
        if not (s <= e and abs(e - s2) < 1e-12):
            return False
    return rows[-1][1] <= rows[-1][2]


def auc(scores: list[float], labels: list[int]) -> float:
    """Rank-based ROC AUC; ties share their average rank."""
    pairs = sorted(zip(scores, labels))
    n_pos = sum(labels)
    n_neg = len(labels) - n_pos
    if n_pos == 0 or n_neg == 0:
        return 0.5
    rank_sum, i = 0.0, 0
    while i < len(pairs):
        j = i
        while j < len(pairs) and pairs[j][0] == pairs[i][0]:
            j += 1
        avg_rank = (i + 1 + j) / 2.0
        rank_sum += avg_rank * sum(lbl for _, lbl in pairs[i:j])
        i = j
    return (rank_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)


def range_join_sql(predictions: str, cv: str) -> str:
    """Probability -> conversion value over the inclusive range join
    (reference output.sql, BETWEEN on both ends)."""
    return f"""SELECT p.unique_id AS client_id, ROUND(p.probability, 6) AS score,
        cv.normalized_probability AS normalized_score, ROUND(cv.value, 6) AS value
      FROM {predictions} p JOIN {cv} cv
        ON p.probability >= cv.probability_range_start
       AND p.probability <= cv.probability_range_end"""


def payload_rows(batches: list[list[dict]]) -> list[tuple]:
    """(client_id, score, normalized_score, value) of every MP payload."""
    out = []
    for batch in batches:
        for payload in batch:
            params = payload["events"][0]["params"]
            out.append(
                (int(payload["client_id"]), float(params["score"]), int(params["nscore"]), float(params["value"]))
            )
    return out


# -- audience_scripts -----------------------------------------------------------


def profile_sql(orders: str, run_day: int) -> str:
    return f"""SELECT customer_id, COUNT(*)::BIGINT AS n_orders, ROUND(SUM(amount), 2) AS revenue,
        MIN(day)::BIGINT AS first_day, MAX(day)::BIGINT AS last_day,
        CASE WHEN ROUND(SUM(amount), 2) >= 400 THEN 'gold'
             WHEN ROUND(SUM(amount), 2) >= 150 THEN 'silver' ELSE 'bronze' END AS tier
      FROM {orders} WHERE day <= {run_day} GROUP BY customer_id"""


def segments_sql(orders: str, sessions: str, customers: str, run_day: int) -> str:
    return f"""WITH p AS ({profile_sql(orders, run_day)}),
      r AS (SELECT customer_id, SUM(n)::BIGINT AS recent_sessions FROM (
              SELECT day, customer_id, COUNT(*) AS n FROM {sessions}
              WHERE day > {run_day} - 7 AND day <= {run_day} GROUP BY day, customer_id)
            GROUP BY customer_id)
      SELECT p.customer_id, c.region, p.tier,
        CASE WHEN COALESCE(r.recent_sessions, 0) >= 3 THEN 'active'
             WHEN COALESCE(r.recent_sessions, 0) >= 1 THEN 'warm' ELSE 'lapsed' END AS engagement,
        c.region || '_' || p.tier AS segment
      FROM p JOIN {customers} c ON c.customer_id = p.customer_id
      LEFT JOIN r ON r.customer_id = p.customer_id"""


def audiences_sql(segments: str) -> str:
    return f"""SELECT 'aud_' || segment AS name, segment, COUNT(*)::BIGINT AS members,
        SUM(CASE WHEN engagement = 'active' THEN 1 ELSE 0 END)::BIGINT AS active_members
      FROM ({segments}) GROUP BY segment"""


def render_payload(template: str, row: dict) -> dict:
    return json.loads(string.Template(template).substitute(row))


def expected_audience_diff(
    rendered: list[dict], remote: dict[str, dict], output_only=("resourceName",)
) -> tuple[set[str], set[str]]:
    """Names to insert and to update: an audience is inserted when no
    remote audience has its name, and updated when any rendered field
    differs from the remote copy (output-only fields ignored)."""
    inserts, updates = set(), set()
    for payload in rendered:
        name = payload["name"]
        if name not in remote:
            inserts.add(name)
            continue
        stored = {k: v for k, v in remote[name].items() if k not in output_only}
        if any(stored.get(k) != v for k, v in payload.items()):
            updates.add(name)
    return inserts, updates


# -- event ingestion (the first part of a propensity_daily day) -----------------


def stream_profile_sql(events: str) -> str:
    """Running profile over every dropped event, duplicates included (the
    profile counts what arrives; the dedup table removes re-sends)."""
    return f"""SELECT user_id, COUNT(*)::BIGINT AS n_events, ROUND(SUM(value), 2) AS total_value,
        epoch_us(MIN(ts)) AS first_us, epoch_us(MAX(ts)) AS last_us
      FROM {events} GROUP BY user_id"""


def ndjson_relation(paths: list[str]) -> str:
    files = ", ".join(f"'{p}'" for p in paths)
    return (
        f"read_json([{files}], format='newline_delimited', columns={{"
        "'event_id': 'BIGINT', 'ts': 'TIMESTAMP', 'user_id': 'BIGINT', "
        "'event_type': 'VARCHAR', 'value': 'DOUBLE', 'props': 'VARCHAR'})"
    )
