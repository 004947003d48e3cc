"""DuckDB oracle check for the query_mix workload.

`expected` runs each query's oracle SQL in DuckDB over the generated
tables; `compare` checks the result the benchmark wrote for each query
(one parquet directory per query) against it: columns sorted by name,
rows sorted by all columns, exact value equality (bitwise for floats).

The connected-components oracles (q_dedup_clusters, q_dedup_droplist)
label nodes with a recursive reachability CTE that takes minutes in
DuckDB; for those the oracle's own edge set (its `verified` pairs) is
taken from DuckDB and the components are labelled here by union-find,
which gives the same minimum-node label the CTE computes.
"""
import math
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in idx) for r in rows]
    key = lambda t: tuple((v is None, str(type(v)), str(v)) for v in t)
    return sorted(out, key=key), [cols[i] for i in idx]


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b and math.copysign(1, a) == math.copysign(1, b)
    return a == b


CC_SPLIT = ",\nedges AS ("
CC_ORACLES = ("q_dedup_clusters", "q_dedup_droplist")


def _components(con, sql):
    """{node: min node of its component} over the oracle's verified pairs."""
    head = sql.split(CC_SPLIT)[0].replace("WITH RECURSIVE", "WITH", 1)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in con.execute(head + "\nSELECT doc_a, doc_b FROM verified").fetchall():
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _cc_oracle(label, name):
    if name == "q_dedup_droplist":
        return [(n, l) for n, l in sorted(label.items()) if n != l], ["doc_id", "cluster"]
    groups = {}
    for n, l in label.items():
        groups.setdefault(l, []).append(n)
    return ([(l, len(ns), max(ns)) for l, ns in sorted(groups.items())],
            ["cluster", "n_docs", "max_doc"])


def expected(tables_dir, oracle):
    """{query name: (canonical rows, sorted columns) or error text}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    out, labels = {}, None
    for name, sql in sorted(oracle.items()):
        t = time.time()
        try:
            if name in CC_ORACLES and CC_SPLIT in sql:
                labels = labels or _components(con, sql)
                out[name] = _canon(*_cc_oracle(labels, name))
            else:
                want = con.execute(sql)
                out[name] = _canon(want.fetchall(), [d[0] for d in want.description])
        except Exception as e:  # a failed oracle run fails the query
            out[name] = f"oracle error: {e}"
        print(f"[perfbench] oracle {name}: {time.time() - t:.2f} s", file=sys.stderr)
    return out


def compare(results_dir, want):
    """{query name: failure reason} for every result directory."""
    con = duckdb.connect()
    failures = {}
    for name in sorted(os.listdir(results_dir)):
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            continue
        w = want.get(name, "no oracle SQL")
        if isinstance(w, str):
            failures[name] = w
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        (g, gc), (w, wc) = _canon(got.fetchall(), [d[0] for d in got.description]), w
        if gc != wc:
            failures[name] = f"columns {gc} != {wc}"
        elif len(g) != len(w):
            failures[name] = f"rows {len(g)} != {len(w)}"
        else:
            for i, (rg, rw) in enumerate(zip(g, w)):
                if not all(_eq(a, b) for a, b in zip(rg, rw)):
                    failures[name] = f"row {i}: {rg} != {rw}"
                    break
    return failures
