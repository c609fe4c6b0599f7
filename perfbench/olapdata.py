"""Seeded star-schema + events + text + vector tables for the OLAP workload.

Writes the ten parquet tables the query registry reads (schemas as in
the repository's FIXTURES.md) at about a hundredth of TPC-H scale 1, so
a run measures warm, scheduling-bound query execution. Distributions
follow the repository's test data: uniform keys, two-decimal prices,
a 30-word vocabulary for documents with a few near-duplicate texts,
64-dimensional embeddings with ten labels.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, n: int, start: tuple, end: tuple) -> pa.Array:
    lo, hi = _epoch_us(*start), _epoch_us(*end)
    days = rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n)
    return pa.array(lo + days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, n: int, values) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
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
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, k, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, k, -999.99, 9999.99),
    })
    k = n["part"]
    adj = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
    noun = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    out["part"] = pa.table({
        "p_partkey": pa.array(range(k), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, k, adj), _pick(rng, k, noun))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": _pick(rng, k, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 2),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": _pick(rng, k, ("F", "O", "P")),
        "o_totalprice": _money(rng, k, 1000, 500000),
        "o_orderdate": _days(rng, k, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, k, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900, 105000),
        "l_discount": np.round(rng.integers(0, 11, k) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, k) / 100, 2),
        "l_returnflag": _pick(rng, k, ("A", "N", "R")),
        "l_linestatus": _pick(rng, k, ("F", "O")),
        "l_shipdate": _days(rng, k, (1995, 1, 2), (2001, 11, 4)),
    })
    k = n["events"]
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, k))
    out["events"] = pa.table({
        "event_id": pa.array(range(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, k), pa.int64()),
        "event_type": _pick(rng, k, ("click", "error", "purchase", "signup", "view")),
        "value": _money(rng, k, 0.01, 490.0),
        "props": [json.dumps({"k": int(v)}) for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts = [" ".join(_pick(rng, int(m), _VOCAB)) for m in rng.integers(10, 100, k)]
    for i in range(0, k, 20):  # near-duplicates: a copy with one word appended
        texts[i + 1] = texts[i] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(range(k), pa.int64()),
        "text": texts,
        "lang": _pick(rng, k, ("en", "en", "en", "de", "es", "fr", "zh")),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    k = n["embeddings"]
    vecs = (rng.standard_normal((k, 64)) * 0.15).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })
    return out


def write(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; -> row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
