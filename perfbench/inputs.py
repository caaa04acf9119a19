"""Seeded benchmark inputs: the engine's star schema, generated from scratch.

The tables have the names, column types and value distributions of the
engine's parquet fixtures (TPC-H-like ``region nation customer supplier part
orders lineitem`` plus ``events``, ``documents`` and ``embeddings``).  Their
*content* is fixed: it is drawn from ``BASE_SEED`` at ``scale`` and is the
same for every workload seed.  The workload seed only permutes the physical
row order of each table, so two seeds give the engine the same work, and an
engine whose result depends on input order disagrees with the oracle, which
is evaluated on the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = (
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

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJECTIVES = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
_NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_DAY_US = 86_400 * 1_000_000


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _i32(x) -> pa.Array:
    return pa.array(np.asarray(x, dtype=np.int32), pa.int32())


def base_tables(scale: float = 0.01) -> dict[str, pa.Table]:
    """The fixed table content at ``scale`` (``0.01`` = 60k lineitem rows)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(1, int(150_000 * scale))
    n_supp = max(1, int(10_000 * scale))
    n_part = max(1, int(200_000 * scale))
    n_ord = max(1, int(1_500_000 * scale))
    n_line = max(1, int(6_000_000 * scale))
    n_evt = max(1, int(1_000_000 * scale))
    n_user = max(1, int(15_000 * scale))
    n_doc = max(1, int(50_000 * scale))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({"r_regionkey": _i32(range(5)), "r_name": _REGIONS})
    out["nation"] = pa.table(
        {
            "n_nationkey": _i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": _i32([i % 5 for i in range(25)]),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
        }
    )
    adj = rng.choice(_ADJECTIVES, n_part)
    noun = rng.choice(_NOUNS, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": _i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(1000.0, 500000.0, n_ord, rng),
            "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", n_ord, rng)),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": _i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(900.0, 105000.0, n_line, rng),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", n_line, rng)),
        }
    )
    gaps = rng.exponential(30 * _DAY_US / n_evt, n_evt)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _ts(np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)),
            "user_id": rng.integers(0, n_user, n_evt),
            "event_type": rng.choice(_EVENT_TYPES, n_evt),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)
    ]
    # About 5% of documents are near-duplicates of another one: the same
    # text with one marker token appended, for the dedup operators to find.
    for i in rng.choice(n_doc, max(1, n_doc // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_doc)
    vecs = centers[labels] + 0.5 * rng.normal(size=(n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": _i32(labels),
        }
    )
    return out


def permuted(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Each table with its rows in a seeded random order; content unchanged."""
    rng = np.random.default_rng(seed)
    return {name: t.take(rng.permutation(t.num_rows)) for name, t in tables.items()}


def write_inputs(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for the seed; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in permuted(base_tables(scale), seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
