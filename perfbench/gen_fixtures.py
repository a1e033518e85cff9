#!/usr/bin/env python3
"""Deterministic generator for the benchmark's parquet fixtures.

Writes the ten tables the engine reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the column names, parquet types and value domains the engine's
queries are written against: TPC-H-like keys and prices, timestamps as
microsecond timestamps without a zone, an `events` change stream ordered by
`event_id`, a 31-word text corpus with 5% near-duplicates ("<earlier text>
dup") and unit-norm 64-dimensional float embeddings.

The tables depend only on the scale factor and the seed, so the expected
query digests recorded beside this file stay valid for every run.

Usage: python3 gen_fixtures.py OUT_DIR [--sf 0.1] [--seed 42]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter group key row part order sort scan hash line batch query "
         "agg fast slow big customer").split()
ADJ = "blue cold hot large small red green metal".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
US_PER_DAY = 86_400_000_000


def days_to_ts(start, days):
    base = int((start - dt.date(1970, 1, 1)).days)
    return pa.array((base + days).astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))

    yield "region", pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    yield "nation", pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    yield "customer", pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    keys = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": i64(keys),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                       n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1))})
    yield "orders", pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": days_to_ts(dt.date(1995, 1, 1), rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": days_to_ts(dt.date(1995, 1, 2), rng.integers(0, 2499, n_line))})
    start_us = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * US_PER_DAY
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + start_us
    yield "events", pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts.astype(np.int64), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(15, int(15_000 * sf)), n_ev)),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    yield "documents", pa.table({
        "doc_id": i64(range(n_doc)),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": i64([len(t) for t in texts])})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    for name, t in tables(a.sf, a.seed):
        pq.write_table(t, os.path.join(a.out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
