"""Seeded generator for the tables graft's queries read.

Writes the TPC-H-ish star schema (region nation customer supplier part orders
lineitem) and the LLM-pipeline tables (events documents embeddings) as one
parquet file each, with the schemas and value domains described in the repo's
FIXTURES.md, at the row counts of its smallest scale (lineitem ~6,000 rows).
The same seed always yields byte-identical values, so query results, and the
fingerprints recorded in expected.json, are a pure function of the seed.

Usage: python3 datagen.py OUT_DIR [SEED]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 150, 10, 200, 1500
N_EVENTS, N_DOCS, N_VECS, DIM = 1000, 500, 500, 64


def _ts(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype="int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def generate(out_dir, seed=DATA_SEED):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]})
    write("supplier", {
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)})
    retail = np.round(900.0 + np.arange(N_PART) * 0.1, 2)
    write("part", {
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": retail})

    # Order dates span 1995-01-01 .. 2001-08-01 (days since epoch).
    d0, d1 = 9131, 11535
    odate = rng.integers(d0, d1 + 1, N_ORDERS)
    write("orders", {
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]})

    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines])
    n_li = len(okey)
    pkey = rng.integers(0, N_PART, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship = np.clip(odate[okey] + rng.integers(1, 122, n_li), d0 + 1, 11630)
    flags = rng.integers(0, 3, n_li)
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in flags],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship)})

    # Events: 2024-01-01 .. 2024-01-30, microsecond timestamps, ascending.
    start_us = 19723 * 86_400_000_000
    span_us = 30 * 86_400_000_000
    ts = np.sort(start_us + rng.integers(0, span_us, N_EVENTS))
    write("events", {
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})

    texts = []
    for _ in range(N_DOCS):
        n = int(rng.integers(10, 100))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n)))
    write("documents", {
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, N_DOCS)],
        "source": [f"src{i // 25}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    raw = 0.15 * centers[labels] + rng.normal(0.0, 1.0, (N_VECS, DIM))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype("float32")
    write("embeddings", {
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(unit), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else DATA_SEED)
