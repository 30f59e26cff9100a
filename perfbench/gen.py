"""Seeded input generators for the benchmark.

``write_tables`` writes the ten engine tables (``region`` ... ``embeddings``)
as ``<dir>/<name>.parquet`` with the schemas and value domains the query
registry expects (TPC-H-ish star schema, an ``events`` stream, a
``documents`` corpus with near-duplicates and unit-norm ``embeddings``).
Row counts scale with ``sf`` the same way the engine's reference data does:
at sf0.1 lineitem has 600,000 rows.

``price_cycle`` plans the ``daily_batch`` storage cycle on the price table:
a history, daily increments, revision appends, and the live rows the table
must hold afterwards (one row per (symbol, trade_date); the latest
``update_dt`` wins; ``upsert_absent`` never replaces an existing key).

Same seed, same bytes: everything derives from one ``numpy`` Generator.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(8, 90, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # ~5% near-duplicates: an earlier document's text plus a marker word,
    # so the dedup families (exact, MinHash, connected components) find
    # clusters, and a few of those collide into exact duplicates
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> dict:
    centroids = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    raw = 0.08 * centroids[label] + rng.normal(0.0, 1.0, (n, dim))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(unit), type=pa.list_(pa.float32())),
        "label": label,
    }


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the ten engine tables for ``sf`` under ``out_dir``; returns
    row counts by table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1500)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(n_ev // 66, 15)
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2405, n_ord) * np.timedelta64(1, "D"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2500, n_li) * np.timedelta64(1, "D"),
    })
    gaps = rng.exponential(26.0 * 1e6 * 100_000 / n_ev, n_ev).astype(np.int64) + 1
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return {"lineitem": n_li, "orders": n_ord, "events": n_ev}


# -- daily_batch price cycle ---------------------------------------------


def _weekdays(start: dt.date, n: int) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def price_cycle(
    seed: int,
    symbols: int = 400,
    history_days: int = 60,
    increment_days: int = 6,
    revision_share: float = 0.05,
    overlap_share: float = 0.02,
) -> dict:
    """Plan one seeded storage cycle on a ``stock_price_table``.

    Returns ``history`` (rows for the initial overwrite), ``increments``
    (one row list per day for ``upsert_absent``; each also repeats
    ``overlap_share`` of already-stored keys, which must be skipped),
    ``inserted`` (rows each increment must add), ``revisions`` (rows appended with a later ``update_dt`` for existing
    keys) and ``expected``: the live rows ``read_current`` must return,
    keyed by (symbol, trade_date), where the latest ``update_dt`` wins.
    Rows are tuples in ``PRICE_COLUMNS`` order.
    """
    rng = np.random.default_rng([seed, 2])
    syms = [f"{100000 + 37 * i:06d}" for i in range(symbols)]
    days = _weekdays(dt.date(2024, 1, 2), history_days + increment_days)
    base_ts = dt.datetime(2024, 6, 1, 18, 0, 0)

    def row(sym, day, version):
        close = float(np.round(rng.uniform(1_000, 90_000), 0))
        return (
            sym, day, close * 0.99, close * 1.02, close * 0.97, close,
            int(rng.integers(1_000, 5_000_000)), float(np.round(rng.normal(0, 2), 2)),
            base_ts + dt.timedelta(seconds=version),
        )

    history = [row(s, d, 0) for d in days[:history_days] for s in syms]
    live = {(r[0], r[1]): r for r in history}
    increments = []
    for i, d in enumerate(days[history_days:], start=1):
        fresh = [row(s, d, 1000 * i) for s in syms]
        stored = list(live)
        k = max(1, int(len(fresh) * overlap_share))
        picks = rng.choice(len(stored), k, replace=False)
        repeats = [row(*stored[j], 1000 * i) for j in picks]
        increments.append(fresh + repeats)
        live.update({(r[0], r[1]): r for r in fresh})
    keys = list(live)
    picks = rng.choice(len(keys), int(len(keys) * revision_share), replace=False)
    revisions = [row(*keys[j], 100_000 + n) for n, j in enumerate(picks)]
    live.update({(r[0], r[1]): r for r in revisions})
    return {
        "history": history,
        "increments": increments,
        "inserted": [len(syms)] * increment_days,
        "revisions": revisions,
        "expected": live,
    }


PRICE_COLUMNS = (
    "symbol string, trade_date date, open_price double, high_price double, "
    "low_price double, close_price double, volume bigint, change_rate double, "
    "update_dt timestamp"
)
