"""Seeded input tables for the ``dedup_queries`` workload.

The ten headline queries read five tables: ``documents`` (dedup, Jaccard,
pHash and curation), ``events`` (first-occurrence, top-k, hourly rollup),
``orders`` (seen-set anti-join), and ``lineitem``/``customer`` (TPC-H Q1 and
Q3). The shapes follow the repository's sf0.1 test data: documents of 10-100
tokens over a 31-word vocabulary with about 6% near-duplicate copies, and a
TPC-H-like star at sf0.1 row counts. There are 2,500 documents, half of
sf0.1, so that the DuckDB oracle's recursive components query fits the
run. Sizes are fixed; the seed only changes the values, so every seed costs
the same work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column fast filter group hash join key line merge order "
    "part query scan slow small sort spark stream table value vector window "
    "index shard cache plan row"
).split()
SOURCES = [f"src{i}" for i in range(20)]
LANGS = ["en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

N_DOCS = 2_500
NEAR_DUP_SHARE = 0.06  # docs that copy an earlier doc with a few token edits
N_EVENTS = 100_000
N_USERS = 1_500
N_CUSTOMERS = 15_000
N_ORDERS = 150_000
LINES_PER_ORDER = 4

TABLE_NAMES = ("documents", "events", "customer", "orders", "lineitem")
_DAY_US = 86_400 * 10**6


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < NEAR_DUP_SHARE:
            src = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):  # 0-2 token edits
                src[int(rng.integers(0, len(src)))] = str(rng.choice(vocab))
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)],
        "source": [SOURCES[i % len(SOURCES)] for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = base + np.sort(rng.integers(0, 30 * _DAY_US, n))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": kinds[rng.integers(0, len(kinds), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
    })


def customer(rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMERS)],
    })


def orders_and_lineitem(rng: np.random.Generator, n_orders: int) -> tuple[pa.Table, pa.Table]:
    day0 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
    odate = day0 + rng.integers(0, 2400, n_orders) * _DAY_US
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_orders)],
    })
    n = n_orders * LINES_PER_ORDER
    okey = rng.integers(0, n_orders, n).astype(np.int64)
    ship = odate[okey] + rng.integers(1, 122, n) * _DAY_US
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(ship),
    })
    return orders, lineitem


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the five tables as ``<out_dir>/<name>.parquet``; returns row
    counts. Same seed → identical values."""
    rng = np.random.default_rng(seed)
    orders, lineitem = orders_and_lineitem(rng, N_ORDERS)
    tables = {
        "documents": documents(rng, N_DOCS),
        "events": events(rng, N_EVENTS),
        "customer": customer(rng), "orders": orders, "lineitem": lineitem,
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
