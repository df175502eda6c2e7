"""Seeded synthetic inputs for the benchmark.

Writes the ten fixture tables the suite reads (``catalog.TABLES``, one
parquet file each, same column names and types as the TPC-H-ish test
fixtures) plus the ``etl_gold`` refresh batches.

The base tables come from a fixed generator seed, so every run measures
the same data; ``--seed`` picks only what the workloads vary: the refresh
batches, the dashboard predicates and the order of operations.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# Row counts, chosen so one pass of each workload fits the run budget.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "event_users": 150,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
_LANGS = np.array(["en", "zh", "de", "fr", "es"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EPOCH = dt.datetime(1970, 1, 1)


def _days_us(start: dt.date, days: np.ndarray) -> np.ndarray:
    """Midnight timestamps (epoch microseconds) ``days`` after ``start``."""
    base = (dt.datetime.combine(start, dt.time()) - _EPOCH).days
    return (base + days).astype("int64") * 86_400_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def base_tables(sizes: dict[str, int] = SIZES) -> dict[str, pa.Table]:
    """The ten suite tables, generated from ``BASE_SEED``."""
    rng = np.random.default_rng(BASE_SEED)
    n_c, n_s, n_p = sizes["customer"], sizes["supplier"], sizes["part"]
    n_o, n_l, n_e = sizes["orders"], sizes["lineitem"], sizes["events"]
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": _keyed_names("Customer", n_c),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c
        ),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": _keyed_names("Supplier", n_s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    adjectives = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    pk = np.arange(n_p)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(adjectives, n_p), rng.choice(nouns, n_p))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p
        ),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    # Order and ship dates span one year: 12 month partitions of the gold
    # table (the test fixtures span 6.5 years).
    first = dt.date(1999, 1, 1)
    span = (dt.date(1999, 12, 31) - first).days
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _ts(_days_us(first, rng.integers(0, span + 1, n_o))),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
        ),
    })
    flags = rng.choice(["A", "N", "R"], n_l)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _ts(_days_us(first, rng.integers(1, span + 60, n_l))),
    })
    # Events: monotone event time over 30 days from 2024-01-01.
    gaps = rng.exponential(30 * 86_400_000_000 / n_e, n_e).astype("int64")
    start_us = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": _ts(start_us + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, sizes["event_users"], n_e), pa.int64()),
        "event_type": rng.choice(["click", "view", "signup", "purchase", "error"], n_e),
        "value": np.maximum(np.round(rng.exponential(50.0, n_e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    out["documents"] = _documents(rng, sizes["documents"])
    out["embeddings"] = _embeddings(rng, sizes["embeddings"])
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; ~5% are near-duplicates of an earlier one
    with a ``dup`` token appended."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], data_dir: Path) -> None:
    data_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, data_dir / f"{name}.parquet")


# --- etl_gold refresh batches -------------------------------------------

GOLD_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("n_name", pa.string()),
    ("order_date", pa.string()),
    ("day_qty", pa.float64()),
    ("version", pa.int32()),
    ("order_month", pa.int32()),
])


def refresh_batches(
    facts: pa.Table, seed: int, n_batches: int = 3, share: float = 0.02
) -> list[pa.Table]:
    """Seeded upsert batches over the base gold facts.

    Each batch touches about ``share`` of the keys: mostly updates
    (batch ``i`` carries version ``i``), some stale rows the
    strictly-newer guard must ignore (a version no newer than the row
    they hit), and some inserts of new keys. Keys are unique within a
    batch, so the merge result does not depend on row order.
    """
    rng = np.random.default_rng(seed)
    keys = facts.column("o_orderkey").to_numpy()
    dates = facts.column("order_date").to_pylist()
    names = sorted({n for n in facts.column("n_name").to_pylist() if n})
    next_key = int(keys.max()) + 1
    per_batch = max(1, int(len(keys) * share))
    batches = []
    for b in range(1, n_batches + 1):
        n_ins = per_batch // 10
        idx = rng.choice(len(keys), per_batch - n_ins, replace=False)
        version = np.full(len(idx), b, dtype="int32")
        stale = rng.random(len(idx)) < 0.1
        version[stale] = rng.integers(0, b, int(stale.sum()))
        ins_dates = [dates[int(i)] for i in rng.integers(0, len(dates), n_ins)]
        row_dates = [dates[int(i)] for i in idx] + ins_dates
        n = len(row_dates)
        name_pick = rng.integers(0, len(names) + 1, n)
        batches.append(pa.table({
            "o_orderkey": np.concatenate(
                [keys[idx], np.arange(next_key, next_key + n_ins)]
            ).astype("int64"),
            "n_name": [names[k] if k < len(names) else None for k in name_pick],
            "order_date": row_dates,
            "day_qty": np.round(rng.uniform(0.0, 2000.0, n), 2),
            "version": np.concatenate([version, np.full(n_ins, b, "int32")]),
            "order_month": np.array(
                [int(d[:4] + d[5:7]) for d in row_dates], dtype="int32"
            ),
        }, schema=GOLD_SCHEMA))
        next_key += n_ins
    return batches
