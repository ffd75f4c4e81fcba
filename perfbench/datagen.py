"""Seeded generator for the ten analytics tables the registry reads.

The tables follow the shapes of the project's reference data (TESTDATA.md):
the same columns, physical types and value domains, and the same row counts
per scale factor. Every value is drawn from one ``numpy`` generator seeded
by the benchmark's ``--seed``, so a seed names one exact set of parquet
files.

Run directly to write a set: ``python3 perfbench/datagen.py OUT_DIR SF SEED``.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
ORDER_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def table_sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (reference proportions)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, epoch: np.datetime64, span: int, n: int) -> np.ndarray:
    return epoch + rng.integers(0, span, n) * np.timedelta64(1, "D")


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word salad over ``VOCAB`` with planted duplicates: ~5 % are an
    earlier text plus ``" dup"`` (near-duplicates) and ~0.2 % exact copies."""
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(10, 100, n)
    ]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    return texts


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    users = max(15, round(15_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    k = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)],
        }
    )
    k = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )
    k = n["part"]
    names = np.array([f"{a} {b}" for a in ADJECTIVES for b in NOUNS])
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), k)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, k)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), k)],
            "p_size": rng.integers(1, 51, k).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
        }
    )
    k = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], k),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
            "o_orderdate": _days(rng, _ORDER_EPOCH, 2404, k),
            "o_orderpriority": np.array(ORDER_PRIORITIES)[rng.integers(0, 5, k)],
        }
    )
    k = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], k),
            "l_partkey": rng.integers(0, n["part"], k),
            "l_suppkey": rng.integers(0, n["supplier"], k),
            "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
            "l_shipdate": _days(rng, _ORDER_EPOCH + np.timedelta64(1, "D"), 2499, k),
        }
    )
    k = n["events"]
    offsets = np.sort(rng.integers(0, 30 * _US_PER_DAY, k))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": _EVENT_EPOCH + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, users, k),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
            "value": np.maximum(np.round(rng.exponential(50.0, k), 2), 0.01),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )
    k = n["documents"]
    texts = _documents(rng, k)
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(k, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), k, p=LANG_WEIGHTS)],
            "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, k)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    k = n["embeddings"]
    vecs = rng.standard_normal((k, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, k).astype(np.int32),
        }
    )
    return tables


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit("usage: datagen.py OUT_DIR SF SEED")
    started = datetime.now()
    print(write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
    print(f"{(datetime.now() - started).total_seconds():.2f}s")
