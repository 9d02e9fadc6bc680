"""Synthetic analytic tables for the ``corpus`` workload.

The query registry (``__spark_entry__.queries()``) reads its tables as
``<sf_dir>/<name>.parquet``. This module writes those tables from a
seed with numpy + pyarrow, in the same schemas and value ranges as the
repository's sf test tables, so the benchmark needs no data outside
its checkout. Only the tables the benchmark's query list reads are
written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table "
    "value vector window index shard plan cache page token node graph"
).split()
LANGS = np.array(["en", "en", "en", "zh", "de", "fr", "es"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
PART_TYPES = np.array(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"])
PART_ADJ = ["small", "red", "blue", "green", "large", "steel"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "panel", "spring"]

TABLES = ("customer", "orders", "lineitem", "part", "events", "documents",
          "embeddings")


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + seconds.astype("timedelta64[s]").astype("timedelta64[us]"))


def write_tables(out_dir: str, seed: int, n_docs: int, n_orders: int,
                 n_events: int, n_vectors: int) -> str:
    """Write every table of :data:`TABLES` under ``out_dir``; returns it."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part = max(10, n_orders // 10), max(20, n_orders // 8)

    cust = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })

    day = 86400
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_orders) * day),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })

    lines_per = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per)
    linenr = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    partkey = rng.integers(0, n_part, n_lines, dtype=np.int64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(0, 100, n_lines, dtype=np.int64)),
        "l_linenumber": pa.array(linenr),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (900 + (partkey % 1000) / 10.0), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_lines)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_lines)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_lines) * day),
    })

    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{PART_ADJ[rng.integers(6)]} {PART_NOUN[rng.integers(6)]}"
                   for _ in range(n_part)],
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })

    gaps = rng.integers(1, 2 * (30 * day) // max(1, n_events), n_events)
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, n_events, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(40.0, n_events) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    vocab = np.array(VOCAB)
    texts = [" ".join(rng.choice(vocab, int(k)))
             for k in rng.integers(8, 90, n_docs)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    centers = rng.normal(0.0, 0.2, (10, 64))
    labels = rng.integers(0, 10, n_vectors).astype(np.int32)
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_vectors, 64))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })

    for name, table in (("customer", cust), ("orders", orders),
                        ("lineitem", lineitem), ("part", part),
                        ("events", events), ("documents", documents),
                        ("embeddings", embeddings)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
