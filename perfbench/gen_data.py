#!/usr/bin/env python3
"""Deterministic sf0.1 corpus for the benchmark.

Writes the ten tables the program's `graft.Tables` registers (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), one snappy parquet file each, with the column names, types
and value distributions of the program's standard synthetic test corpus:
a TPC-H-like star schema with independent uniform keys, a sorted event
stream, a 31-word document corpus with near-duplicate clones, and unit
embedding vectors. The corpus seed is fixed (42); the workload seed given
to run.py only orders and parameterises operations, so expected results
derived once over this corpus stay valid for every workload seed.

Usage: gen_data.py OUT_DIR [SCALE]
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def generate(out, scale=0.1):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_li = int(1500000 * scale), int(6000000 * scale)
    n_ev, n_doc, n_emb = int(1000000 * scale), int(50000 * scale), int(20000 * scale)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})

    adjs = np.array(["blue", "cold", "hot", "large", "old", "red", "small", "green"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "ring", "rod", "widget", "nut"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)], " "),
                                       nouns[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(ptypes[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord)),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)])})

    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2497, n_li))})

    month_us = 30 * 86400 * 1000000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, month_us, n_ev)).astype("timedelta64[us]")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, int(15000 * scale), n_ev).astype(np.int64)),
        "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # Documents: random 10-100 word texts; about 5% are clones of an
    # earlier document with a trailing marker word (near duplicates for
    # the MinHash / shared-span operators) and a few are exact copies.
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "fr", "zh", "de", "es"])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(langs[rng.choice(5, n_doc, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
