"""Seeded generator of the catalog's ten input tables.

Writes one parquet file per table with the same column names, types and
value domains as the driver's testdata at sf0.001 (lineitem 6,000
rows), so every catalog query and its DuckDB oracle run on it
unchanged. The same seed gives byte-identical tables; different seeds
give the same sizes and distributions with different values.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the driver's sf0.001 testdata, except documents: fewer
# and shorter ones keep the MinHash LSH oracle's DuckDB run (~22 ms per
# 100-word document) within the benchmark's per-run budget.
ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 300,
    "embeddings": 500,
}
EVENT_USERS = 15

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = datetime.fromisoformat(first)
    span = (datetime.fromisoformat(last) - lo).days
    days = rng.integers(0, span + 1, n)
    return pa.array([lo + timedelta(days=int(d)) for d in days], pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"])
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n["part"])],
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, m),
            "l_discount": rng.integers(0, 11, m) / 100,
            "l_tax": rng.integers(0, 9, m) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
        }
    )
    e = n["events"]
    start = datetime(2024, 1, 1)
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(e), pa.int64()),
            "ts": pa.array(
                [start + timedelta(microseconds=int(o)) for o in offsets],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, e), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 40))) for _ in range(n)]
    # a few exact and near copies of earlier documents, as the dedup
    # queries expect some
    for j, i in enumerate(range(n // 50, n, n // 25)):
        words = texts[int(rng.integers(0, i))].split()
        if j % 2:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(seed: int, out_dir: str) -> str:
    """Write the ten tables for ``seed`` under ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
