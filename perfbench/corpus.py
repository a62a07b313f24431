"""Deterministic synthetic corpus for the benchmark.

The engine reads ten parquet tables per scale factor (a TPC-H-ish star
schema, an ``events`` stream and the RAG ``documents`` / ``embeddings``
pair; see ``rag_database_spark/sources/tables.py``). The benchmark must
run from a bare checkout, so it generates those tables itself, with the
same schemas, key ranges and value distributions as the engine's
sf0.01 fixture: 500 documents drawn from a 30-word vocabulary with 5 %
`` dup``-suffixed near-copies, 64-dimensional unit embeddings in ten
labels, 10k events, 60k line items.

``write_base`` makes the fixed corpus both workloads read.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
N_DOCS = 500
N_VECS = 500
DIM = 64
N_EVENTS = 10_000
N_USERS = 150
N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_PARTS = 2_000
N_ORDERS = 15_000
N_LINEITEMS = 60_000

VOCAB = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)

# bumped whenever the generated bytes change, so cached artifacts and
# oracle fingerprints keyed on it are rebuilt
VERSION = "1"


def _write(path: Path, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _documents(rng: np.random.Generator) -> dict:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 40 and rng.random() < 0.05:
            # near-copy of an earlier document, like the fixture's
            # `` dup``-suffixed rows
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, size=n)))
    return {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, size=N_DOCS, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator) -> dict:
    labels = rng.integers(0, 10, size=N_VECS)
    centres = rng.normal(size=(10, DIM))
    vecs = rng.normal(size=(N_VECS, DIM)) + 0.15 * centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def _events(rng: np.random.Generator) -> dict:
    start = datetime(2024, 1, 1)
    gaps = rng.exponential(259.0, size=N_EVENTS)
    secs = np.cumsum(gaps)
    return {
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(
            [start + timedelta(seconds=float(s)) for s in secs], pa.timestamp("us")
        ),
        "user_id": pa.array(rng.integers(0, N_USERS, size=N_EVENTS), pa.int64()),
        "event_type": list(
            rng.choice(["click", "signup", "error", "view", "purchase"], size=N_EVENTS)
        ),
        "value": np.round(rng.exponential(50.0, size=N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)],
    }


def _days(start: datetime, offsets) -> pa.Array:
    return pa.array(
        [start + timedelta(days=int(d)) for d in offsets], pa.timestamp("us")
    )


def _relational(rng: np.random.Generator, out: Path) -> None:
    _write(out / "region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out / "nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out / "customer.parquet", {
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": list(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
            N_CUSTOMERS,
        )),
    })
    _write(out / "supplier.parquet", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIERS), 2),
    })
    colours = ["small", "red", "blue", "green", "large", "steel"]
    nouns = ["ring", "widget", "bolt", "gear", "plate", "valve"]
    prices = np.round(900.0 + (np.arange(N_PARTS) % 1000) / 10.0, 2)
    _write(out / "part.parquet", {
        "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
        "p_name": [
            f"{colours[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 6, N_PARTS), rng.integers(0, 6, N_PARTS))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
        "p_type": list(rng.choice(
            ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"], N_PARTS
        )),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": prices,
    })
    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    start = datetime(1995, 1, 1)
    _write(out / "orders.parquet", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "P", "O"], N_ORDERS)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _days(start, order_days),
        "o_orderpriority": list(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
        )),
    })
    okeys = rng.integers(0, N_ORDERS, N_LINEITEMS)
    pkeys = rng.integers(0, N_PARTS, N_LINEITEMS)
    qty = rng.integers(1, 51, N_LINEITEMS).astype(np.float64)
    _write(out / "lineitem.parquet", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(pkeys, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINEITEMS), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * prices[pkeys], 2),
        "l_discount": rng.integers(0, 11, N_LINEITEMS) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEMS) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], N_LINEITEMS)),
        "l_linestatus": list(rng.choice(["F", "O"], N_LINEITEMS)),
        "l_shipdate": _days(start, order_days[okeys] + rng.integers(1, 122, N_LINEITEMS)),
    })


def write_base(out: Path) -> Path:
    """Write the fixed benchmark corpus under ``out`` (idempotent: a
    complete corpus of the current VERSION is left as it is)."""
    stamp = out / "_CORPUS"
    if stamp.exists() and stamp.read_text() == VERSION:
        return out
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    _write(out / "documents.parquet", _documents(rng))
    _write(out / "embeddings.parquet", _embeddings(rng))
    _write(out / "events.parquet", _events(rng))
    _relational(rng, out)
    stamp.write_text(VERSION)
    return out
