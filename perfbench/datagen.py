"""Seeded synthetic inputs for the catalog workloads.

Writes the ten fixture tables the catalog queries read (the TPC-H-ish star
schema, ``events``, ``documents`` and ``embeddings``; schemas as in
FIXTURES.md) as one parquet file each.  The same ``(seed, sizes)`` always
gives byte-identical row content; the distributions mirror the shipped
fixtures so the queries see the same shapes (order sizes, co-purchase
density, 5% near-duplicate documents, unit-norm 64-d embeddings).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class Sizes:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int
    documents: int
    embeddings: int


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """Every table as an Arrow table, drawn from one seeded generator."""
    rng = np.random.default_rng(seed)
    s = sizes
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(s.customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
        "c_mktsegment": list(rng.choice(SEGMENTS, s.customers)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s.suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
    })
    adj = rng.choice(PART_ADJ, s.parts)
    noun = rng.choice(PART_NOUN, s.parts)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(s.parts), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.parts)],
        "p_type": list(rng.choice(PART_TYPES, s.parts)),
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(s.parts) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), pa.int64()),
        "o_orderstatus": list(rng.choice(("F", "O", "P"), s.orders)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, s.orders) * _DAY_US),
        "o_orderpriority": list(rng.choice(PRIORITIES, s.orders)),
    })
    n = s.lineitems
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s.orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s.parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": list(rng.choice(("A", "N", "R"), n)),
        "l_linestatus": list(rng.choice(("F", "O"), n)),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n) * _DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, s.events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(s.events), pa.int64()),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": pa.array(rng.integers(0, max(s.customers // 10, 15), s.events), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, s.events)),
        "value": np.round(rng.exponential(50.0, s.events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
    })
    t["documents"] = _documents(rng, s.documents)
    vec = rng.standard_normal((s.embeddings, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(s.embeddings), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, s.embeddings), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; every 20th one repeats an earlier document
    with a ``dup`` suffix, so the dedup operators have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
