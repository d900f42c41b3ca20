"""Seeded generator for the catalog workload's input tables.

Writes the ten tables ``contract.TABLES`` names (TPC-H-shaped relational
tables plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the column names, types and value domains of the
repository's test fixtures. The same ``(seed, scale)`` always writes the
same files; only numpy and pyarrow are used, so generation needs no Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("ring", "widget", "gizmo", "plate", "gear", "rod", "anvil", "bolt")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "de", "fr", "es", "zh")
WORDS = (
    "a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "value", "vector", "window",
)
EMBED_DIM = 64


def table_rows(scale: float) -> dict[str, int]:
    """Row count per table at ``scale`` (1.0 = TPC-H scale factor 1)."""
    per_sf = {"supplier": 10_000, "customer": 150_000, "part": 200_000,
              "orders": 1_500_000, "lineitem": 6_000_000,
              "events": 1_000_000, "documents": 50_000, "embeddings": 50_000}
    return {"region": 5, "nation": 25,
            **{t: int(n * scale) for t, n in per_sf.items()}}


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: dt.date, end: dt.date,
          n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    span = (end - start).days
    offsets = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + offsets, pa.timestamp("us"))


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_rows(scale)
    i32 = pa.int32()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": list(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    k = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{j:09d}" for j in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, k),
    })
    k = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{j:09d}" for j in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, k),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, k)],
    })
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": [names[j] for j in rng.integers(0, len(names), k)],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, k)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, k)],
        "p_size": pa.array(rng.integers(1, 51, k), i32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 2),
    })
    k = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, k)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, k),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), k),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, k)],
    })
    k = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": [("R", "A", "N")[j] for j in rng.integers(0, 3, k)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, k)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), k),
    })
    k = n["events"]
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, k))
    tables["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 150, k),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, k)],
        "value": _cents(rng, 0.01, 490.0, k),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts = [
        " ".join(WORDS[j] for j in rng.integers(0, len(WORDS),
                                                rng.integers(10, 100)))
        for _ in range(k)
    ]
    tables["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, 5, k)],
        "source": [f"src{j}" for j in rng.integers(0, 20, k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + 0.5 * rng.normal(size=(k, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return tables


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table to ``out_dir/<table>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
