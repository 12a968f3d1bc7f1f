"""Seeded tables for the ``query`` workload.

The registry queries read ten parquet tables from one directory: a
TPC-H-style star schema (region, nation, customer, supplier, part,
orders, lineitem), an ``events`` stream (read as solar measurements with
``user_id`` as the site) and a small corpus (``documents``,
``embeddings``). This module writes all ten with the column names and
types the queries expect, at a fixed size, from a seed. Every output is
checked against the query's DuckDB oracle over the same files, so the
values need no planted truth; they only need the shapes the queries
exercise: joins that match, windows with ties broken by key, per-site
daily series, and documents that share vocabulary so the near-duplicate
joins have pairs to verify.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table (about 1/200 of the 0.1 scale factor for the star
# schema; the corpus tables keep the size they have at every scale)
SIZES = {
    "customer": 750,
    "supplier": 50,
    "part": 1000,
    "orders": 7500,
    "lineitem": 30000,
    "events": 5000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 50
EVENT_DAYS = 30
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    adjectives = ["red", "small", "large", "green", "steel", "brass"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"]), i64),
            "p_name": [
                f"{adjectives[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 6, n["part"]),
                                rng.integers(0, 6, n["part"]))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                n["part"],
            ),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900.0 + np.arange(n["part"]) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]),
                                  i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", 2400),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, m),
                                        2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, m, "1995-01-02", 2500),
        }
    )

    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, EVENT_DAYS * 86400 * 10**6, e))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), i64),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, e), i64),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )

    d = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k)))
        for k in rng.integers(10, 100, d)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(d), i64),
            "text": texts,
            "lang": rng.choice(LANGS, d, p=LANG_P),
            "source": [f"src{k % 20}" for k in range(d)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    v = rng.standard_normal((n["embeddings"], EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n["embeddings"]), i64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32),
        }
    )
    return out


def write(seed: int, directory: str) -> None:
    """Write the ten tables as ``<directory>/<name>.parquet``."""
    os.makedirs(directory, exist_ok=True)
    for name, table in generate(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
