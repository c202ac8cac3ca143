#!/usr/bin/env python3
"""Deterministic parquet tables for the catalog_heavy workload.

Usage: python3 perfbench/gen_catalog.py <outdir> <scale>

Writes `<outdir>/<table>.parquet` for the ten tables the catalog queries read
(region nation customer supplier part orders lineitem events documents
embeddings), with the column names, types and value ranges of the repo's
TPC-H-ish test tables. <scale> plays the role of their scale factor: 0.01
gives 60,000 lineitem rows. The tables do not depend on the workload seed —
the catalog queries' row counts are recorded in `catalog_counts.json` for
exactly these tables — so the generator seed is fixed here.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20240101
VOCAB = ["a", "the", "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "big", "slow", "fast", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "spark", "part", "group", "sort", "query"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def days(start, n, rng, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n, size).astype("timedelta64[D]").astype("timedelta64[us]")


def cents(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(scale, rng):
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_docs, n_emb = int(1_000_000 * scale), int(50_000 * scale), max(500, int(20_000 * scale))
    out = {}
    out["region"] = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    out["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    out["customer"] = {"c_custkey": np.arange(n_cust, dtype=np.int64),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
                       "c_acctbal": cents(rng, -999.99, 9999.99, n_cust),
                       "c_mktsegment": rng.choice(SEGMENTS, n_cust)}
    out["supplier"] = {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
                       "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)}
    out["part"] = {"p_partkey": np.arange(n_part, dtype=np.int64),
                   "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                         rng.choice(PART_NOUN, n_part))],
                   "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                   "p_type": rng.choice(PART_TYPES, n_part),
                   "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
                   "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)}
    out["orders"] = {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                     "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
                     "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                     "o_totalprice": cents(rng, 1000, 500_000, n_ord),
                     "o_orderdate": days("1995-01-01", 2400, rng, n_ord),
                     "o_orderpriority": rng.choice(PRIORITIES, n_ord)}
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = {"l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
                       "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
                       "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
                       "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
                       "l_quantity": qty,
                       "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
                       "l_discount": rng.integers(0, 11, n_line) / 100.0,
                       "l_tax": rng.integers(0, 9, n_line) / 100.0,
                       "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                       "l_linestatus": rng.choice(["F", "O"], n_line),
                       "l_shipdate": days("1995-01-02", 2500, rng, n_line)}
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = {"event_id": np.arange(n_ev, dtype=np.int64), "ts": ts,
                     "user_id": rng.integers(0, max(150, n_ev // 66), n_ev, dtype=np.int64),
                     "event_type": rng.choice(EVENT_TYPES, n_ev),
                     "value": np.round(np.maximum(0.01, rng.exponential(50, n_ev)), 2),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    # Documents: random prose over a 30-token vocabulary; about 5% are
    # near-duplicates (an earlier document plus the token "dup"), which is
    # what the dedup and containment operators look for.
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
                        "lang": rng.choice(LANGS, n_docs),
                        "source": [f"src{i % 20}" for i in range(n_docs)],
                        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = {"vec_id": np.arange(n_emb, dtype=np.int64),
                         "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                         "label": rng.integers(0, 10, n_emb, dtype=np.int32)}
    return out


def main():
    outdir, scale = sys.argv[1], float(sys.argv[2])
    os.makedirs(outdir, exist_ok=True)
    for name, cols in tables(scale, np.random.default_rng(SEED)).items():
        pq.write_table(pa.table(cols), os.path.join(outdir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
