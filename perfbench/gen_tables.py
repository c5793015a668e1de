#!/usr/bin/env python3
"""Writes the benchmark's input tables: the ten parquet tables the query
registry reads (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings), with the same column names and
types as the synthetic TPC-H-ish test tables, at a chosen scale factor.

Self-contained: every distribution is a constant here, so the tables
depend only on (scale factor, seed) and are byte-identical across runs.
Numeric columns stay on the lattices the oracles rely on (cents as
ints / 100, microsecond timestamps, whole-day dates).

Usage: python3 perfbench/gen_tables.py <out_dir> <sf> [seed]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_W = [0.14, 0.44, 0.14, 0.13, 0.15]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["large", "hot", "blue", "old", "cold", "small", "red", "green",
        "shiny", "dark"]
NOUNS = ["ring", "bolt", "screw", "plate", "gear", "wheel", "pin", "rod",
         "cap", "nut"]
DAY_US = 86400 * 10 ** 6


def us(day):
    return np.datetime64(day, "us").astype(np.int64)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_o, n_e, n_u = int(1500000 * sf), int(1000000 * sf), int(15000 * sf)
    n_d, n_v = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": pa.array(rng.integers(-99999, 1000000, n_c) / 100.0),
        "c_mktsegment": pa.array(np.array(
            ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD",
             "FURNITURE"])[rng.integers(0, 5, n_c)])})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": pa.array(rng.integers(-99999, 1000000, n_s) / 100.0)})
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{ADJS[i % 10]} {NOUNS[(i // 10) % 10]}" for i in range(n_p)],
        "p_brand": [f"Brand#{1 + (i * 7) % 25}" for i in range(n_p)],
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_p)]),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": pa.array((9000 + np.arange(n_p) % 1000) / 10.0)})

    odates = us("1995-01-01") + rng.integers(0, 2404, n_o) * DAY_US
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(rng.integers(100000, 50000000, n_o) / 100.0),
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"])[rng.integers(0, 5, n_o)])})

    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_o), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, c + 1) for c in lines]), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(100000, 10000000, n_l) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)]),
        "l_shipdate": pa.array(np.repeat(odates, lines)
                               + rng.integers(1, 96, n_l) * DAY_US,
                               pa.timestamp("us"))})

    ts = np.sort(us("2024-01-01") + rng.integers(0, 30 * DAY_US, n_e))
    cents = np.minimum((rng.exponential(50.0, n_e) * 100).astype(np.int64), 56021)
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_u, n_e), pa.int64()),
        "event_type": pa.array(np.array(
            ["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_e)]),
        "value": pa.array(cents / 100.0),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_e)]})

    # documents: uniform unigrams, ~0.2% exact and ~1.3% near duplicates
    texts = []
    for i in range(n_d):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.015:
            toks = texts[rng.integers(0, i)].split(" ")
            for j in range(len(toks)):
                if rng.random() < 0.1:
                    toks[j] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 101)))))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_d, p=LANG_W)]),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.standard_normal((n_v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), pa.int32())})


def write(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    for name, table in tables(sf, seed):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
