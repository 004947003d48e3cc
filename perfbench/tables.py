"""Seeded generator of the query tables for the query_mix workload.

Writes the ten tables the queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the column names, types and value domains of
the repository's test tables, at their smallest scale (lineitem 6000
rows). About a tenth of the documents are near-copies (one word
changed) of an original document, so the dedup queries find pairs.

Usage: python3 perfbench/tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["red", "small", "hot", "old", "large", "blue", "green", "shiny"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "pipe"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark line "
         "sort window data column order small big join query customer stream group "
         "filter vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.15, 0.14, 0.13, 0.14]

SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}


def _ts(days_from, n_days, rng, n):
    base = np.datetime64(days_from, "D")
    days = rng.integers(0, n_days, n)
    return (base + days.astype("timedelta64[D]")).astype("datetime64[us]")


def tables(seed):
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = SIZES["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n)})
    n = SIZES["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = SIZES["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n), 1)})
    n = SIZES["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, SIZES["customer"], n),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n),
        "o_orderpriority": rng.choice(PRIORITIES, n)})
    n = SIZES["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, SIZES["orders"], n),
        "l_partkey": rng.integers(0, SIZES["part"], n),
        "l_suppkey": rng.integers(0, SIZES["supplier"], n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts("1995-01-02", 2498, rng, n)})
    n = SIZES["events"]
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = SIZES["documents"]
    texts, originals = [], []
    for i in range(n):
        if originals and rng.random() < 0.1:
            words = texts[originals[rng.integers(0, len(originals))]].split()
            words[rng.integers(0, len(words))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, rng.integers(8, 90)))
            originals.append(i)
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    n = SIZES["embeddings"]
    centers = rng.normal(0.0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
