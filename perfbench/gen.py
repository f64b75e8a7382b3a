"""Seeded input generator for the pipeline benchmark (numpy + pyarrow only).

The engine never sees the generator: every input is written to files
first and loaded from there. The same seed and sizes give byte-identical
files.

- ``propensity_inputs``: GA4-like events with a planted conversion
  signal. A fifth of the users carry purchase *intent*: they add to cart
  three times as often and convert far more often, so most users never
  purchase. Activity is skewed (a few users are active almost daily).
- ``audience_inputs``: the CRM tables the audience scripts read
  (customers, orders, web sessions), one slice of orders and sessions
  per simulated day.
- ``stream_drop_rows``: one NDJSON event file per drop, with skewed users,
  duplicate event ids re-sent within and across drops, and late rows
  whose timestamps lie days behind the drop.

Every rate below (shares, distribution parameters, rows per day) is an
assumption chosen for the shape it gives, not a figure measured on a
GA4 property or a CRM system; each is a field of a ``*Size`` class, and
the README's "Assumed rates" table gives the reason for each value.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first simulated day; day i of a workload is BASE_DAY + i days
BASE_DAY = np.datetime64("2024-03-01", "D")
_US_PER_DAY = 86_400_000_000
_TS = pa.timestamp("us", tz="UTC")

EVENT_TYPES = ("page_view", "view_item", "add_to_cart", "purchase")


def day_str(i: int) -> str:
    return str(BASE_DAY + np.timedelta64(int(i), "D"))


def _day_us(i: int) -> int:
    return int((BASE_DAY + np.timedelta64(int(i), "D")).astype("datetime64[us]").astype(np.int64))


def _write_parquet(table: pa.Table, path: str) -> None:
    # fixed writer options: byte-identical output for identical tables
    pq.write_table(table, path, compression="snappy", write_statistics=True)


# -- propensity_daily -------------------------------------------------------


@dataclass(frozen=True)
class PropensitySize:
    users: int = 8000
    days: int = 30  # event history (training window + scoring days)
    # assumed rates; pairs are (users without intent, users with intent)
    intent_share: float = 0.2
    activity_beta: tuple[float, float] = (0.6, 2.4)  # daily activity probability
    page_views: float = 3.0  # Poisson mean per active day, plus one
    item_views: tuple[float, float] = (1.0, 1.8)  # Poisson means
    carts: tuple[float, float] = (0.25, 1.2)  # Poisson means
    buy_p: tuple[float, float] = (0.004, 0.12)  # daily purchase probability
    cart_factor: tuple[float, float] = (0.5, 2.0)  # on buy_p: (no cart, cart)
    purchase_value: tuple[float, float] = (2.0, 30.0)  # gamma shape, scale


def propensity_events(seed: int, size: PropensitySize = PropensitySize()):
    """-> (events table, truth table with each user's planted intent)."""
    rng = np.random.default_rng([seed, 1])
    n = size.users
    intent = rng.random(n) < size.intent_share
    # skewed activity: per-day activity probability, beta-distributed
    # with a long right tail
    active_p = np.clip(rng.beta(*size.activity_beta, n), 0.01, 0.95)
    cols: dict[str, list] = {k: [] for k in ("user_id", "event_type", "ts", "value")}
    for d in range(size.days):
        act = np.nonzero(rng.random(n) < active_p)[0]
        m = len(act)
        views = rng.poisson(size.page_views, m) + 1
        items = rng.poisson(np.where(intent[act], size.item_views[1], size.item_views[0]))
        carts = rng.poisson(np.where(intent[act], size.carts[1], size.carts[0]))
        buy_p = np.where(intent[act], size.buy_p[1], size.buy_p[0]) * np.where(
            carts > 0, size.cart_factor[1], size.cart_factor[0]
        )
        buys = (rng.random(m) < buy_p).astype(np.int64)
        per_user = views + items + carts + buys
        uid = np.repeat(act, per_user)
        etype = np.concatenate(
            [
                np.repeat(np.array([0, 1, 2, 3]), [v, i, c, b])
                for v, i, c, b in zip(views, items, carts, buys)
            ]
        ) if m else np.zeros(0, dtype=np.int64)
        k = len(uid)
        ts = _day_us(d) + rng.integers(0, _US_PER_DAY, k)
        value = np.where(etype == 3, np.round(rng.gamma(*size.purchase_value, k), 2), 0.0)
        cols["user_id"].append(uid.astype(np.int64) + 1)
        cols["event_type"].append(etype)
        cols["ts"].append(ts)
        cols["value"].append(value)
    user_id = np.concatenate(cols["user_id"])
    etype = np.concatenate(cols["event_type"])
    ts = np.concatenate(cols["ts"])
    value = np.concatenate(cols["value"])
    order = np.lexsort((user_id, ts))
    user_id, etype, ts, value = user_id[order], etype[order], ts[order], value[order]
    names = np.array(EVENT_TYPES, dtype=object)[etype]
    events = pa.table(
        {
            "event_id": pa.array(np.arange(1, len(ts) + 1, dtype=np.int64)),
            "user_id": pa.array(user_id),
            "event_type": pa.array(names.tolist(), pa.string()),
            "ts": pa.array(ts, _TS),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(['{"source":"web"}'] * len(ts), pa.string()),
        }
    )
    truth = pa.table(
        {
            "user_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
            "intent": pa.array(intent.astype(np.int64)),
        }
    )
    return events, truth


def propensity_inputs(seed: int, out_dir: str, size: PropensitySize = PropensitySize()) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    events, truth = propensity_events(seed, size)
    paths = {
        "events": os.path.join(out_dir, "events.parquet"),
        "truth": os.path.join(out_dir, "truth.parquet"),
    }
    _write_parquet(events, paths["events"])
    _write_parquet(truth, paths["truth"])
    return paths


# -- audience_scripts -------------------------------------------------------


@dataclass(frozen=True)
class AudienceSize:
    customers: int = 3000
    days: int = 120  # more days than any run consumes
    # assumed rates
    orders_per_day: int = 150
    sessions_per_day: int = 400
    zipf_s: float = 0.8  # customer weight 1 / rank**s, for orders and sessions
    order_amount: tuple[float, float] = (2.0, 25.0)  # gamma shape, scale
    pages: float = 4.0  # Poisson mean per session, plus one


def audience_tables(seed: int, size: AudienceSize = AudienceSize()) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    n = size.customers
    regions = np.array(["north", "south", "east", "west"], dtype=object)
    customers = pa.table(
        {
            "customer_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
            "region": pa.array(regions[rng.integers(0, 4, n)].tolist(), pa.string()),
            "signup_day": pa.array(rng.integers(-400, 0, n).astype(np.int64)),
        }
    )
    # skewed buyers: Zipf-like weights over customers
    w = 1.0 / np.arange(1, n + 1) ** size.zipf_s
    w = w[rng.permutation(n)]
    w /= w.sum()
    days = np.repeat(np.arange(size.days, dtype=np.int64), size.orders_per_day)
    k = len(days)
    orders = pa.table(
        {
            "order_id": pa.array(np.arange(1, k + 1, dtype=np.int64)),
            "customer_id": pa.array(rng.choice(n, k, p=w).astype(np.int64) + 1),
            "day": pa.array(days),
            "amount": pa.array(np.round(rng.gamma(*size.order_amount, k), 2)),
            "channel": pa.array(
                np.array(["web", "app", "store"], dtype=object)[rng.integers(0, 3, k)].tolist(),
                pa.string(),
            ),
        }
    )
    sdays = np.repeat(np.arange(size.days, dtype=np.int64), size.sessions_per_day)
    s = len(sdays)
    sessions = pa.table(
        {
            "session_id": pa.array(np.arange(1, s + 1, dtype=np.int64)),
            "customer_id": pa.array(rng.choice(n, s, p=w).astype(np.int64) + 1),
            "day": pa.array(sdays),
            "pages": pa.array(rng.poisson(size.pages, s).astype(np.int64) + 1),
            "seconds": pa.array(rng.integers(5, 1800, s).astype(np.int64)),
        }
    )
    return {"customers": customers, "orders": orders, "sessions": sessions}


def audience_inputs(seed: int, out_dir: str, size: AudienceSize = AudienceSize()) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in audience_tables(seed, size).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write_parquet(t, paths[name])
    return paths


# -- event ingestion (the first part of a propensity_daily day) ------------


@dataclass(frozen=True)
class StreamSize:
    users: int = 4000
    events_per_drop: int = 200
    # assumed rates
    zipf_s: float = 1.1  # user weight 1 / rank**s
    dup_share: float = 0.05  # re-sent event ids (within or across drops)
    late_share: float = 0.05  # rows timestamped 1-3 days behind the drop
    purchase_value: tuple[float, float] = (2.0, 30.0)  # gamma shape, scale


def _fresh_rows(seed: int, drop: int, size: StreamSize) -> list[dict]:
    """The drop's fresh events, each with an event id no other fresh
    event has."""
    n_fresh = size.events_per_drop - int(size.events_per_drop * size.dup_share)
    rng = np.random.default_rng([seed, 3, drop])
    w = 1.0 / np.arange(1, size.users + 1) ** size.zipf_s
    w /= w.sum()
    first_id = drop * n_fresh + 1
    users = rng.choice(size.users, n_fresh, p=w).astype(np.int64) + 1
    ts = _day_us(drop) + rng.integers(0, _US_PER_DAY, n_fresh)
    late = rng.random(n_fresh) < size.late_share
    ts = ts - late * rng.integers(1, 4, n_fresh) * _US_PER_DAY
    ts = ts - ts % 1000  # millisecond precision, as the NDJSON carries it
    etype = rng.integers(0, 4, n_fresh)
    value = np.where(etype == 3, np.round(rng.gamma(*size.purchase_value, n_fresh), 2), 0.0)
    return [
        {
            "event_id": first_id + i,
            "ts": _iso_ms(int(ts[i])),
            "user_id": int(users[i]),
            "event_type": EVENT_TYPES[int(etype[i])],
            "value": float(value[i]),
            "props": '{"source":"stream"}',
        }
        for i in range(n_fresh)
    ]


def stream_drop_rows(seed: int, drop: int, size: StreamSize = StreamSize()) -> list[dict]:
    """Rows of drop ``drop`` (0-based), shuffled. Re-sent duplicates
    repeat a row of this drop or of an earlier one with the identical
    payload, as a retrying client would."""
    rows = _fresh_rows(seed, drop, size)
    n_dup = int(size.events_per_drop * size.dup_share)
    rng = np.random.default_rng([seed, 4, drop])
    dups = []
    for j in range(n_dup):
        src = drop if (j % 2 == 0 or drop == 0) else int(rng.integers(0, drop))
        pool = rows if src == drop else _fresh_rows(seed, src, size)
        dups.append(dict(pool[int(rng.integers(0, len(pool)))]))
    out = rows + dups
    return [out[i] for i in rng.permutation(len(out))]


def _iso_ms(us: int) -> str:
    t = np.datetime64(us, "us").astype("datetime64[ms]")
    return str(t) + "Z"


def write_drop(rows: list[dict], path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True) + "\n")
    os.replace(tmp, path)
