#!/usr/bin/env python3
"""Seeded inputs for the `pipeline` workload.

Writes the star-schema tables the graft entries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
one parquet file each, with the column names and physical types of the
project's sf testdata. Sizes sit between sf0.01 and sf0.1 so one op takes
a fraction of a second at 4 cores. Every value is a function of the seed.

Usage: python3 gen_data.py <out_dir> <seed>
"""
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 1_500
N_SUPPLIER = 200
N_PART = 2_000
N_ORDERS = 15_000
N_EVENTS = 10_000
N_DOCS = 600
N_VECS = 500
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def us(dt):
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def ts_array(micros):
    return pa.array(micros, type=pa.int64()).cast(pa.timestamp("us"))


def money(rng, lo, hi, n):
    # two decimals, so DECIMAL(12,2) casts are exact on both engines
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, rng.integers(3, 9)))
                    for _ in range(3000)})
    texts = []
    for i in range(N_DOCS):
        # one doc in ten copies an earlier doc: half verbatim, half with one
        # word replaced. Copies come from docs of >= 100 words, so a planted
        # pair keeps word-trigram Jaccard >= 0.94 and LSH finds it.
        if i >= 50 and i % 10 == 0:
            long_docs = [j for j, t in enumerate(texts) if t.count(" ") >= 100]
            src = texts[long_docs[rng.integers(len(long_docs))]].split(" ")
            if i % 20 == 0:
                src[rng.integers(len(src))] = vocab[rng.integers(len(vocab))]
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(20, 160))
            texts.append(" ".join(vocab[k] for k in rng.integers(len(vocab), size=n)))
    return {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.integers(5, size=N_DOCS)]),
        "source": pa.array([f"src{k}" for k in rng.integers(8, size=N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def main():
    out, seed = sys.argv[1], int(sys.argv[2])
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION{k:02d}" for k in range(25)]),
        "n_regionkey": pa.array(rng.permutation(np.arange(25) % 5), pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(25, size=N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(5, size=N_CUSTOMER)])})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(25, size=N_SUPPLIER), pa.int32()),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, N_SUPPLIER))})
    write(out, "part", {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": pa.array([f"part {k}" for k in range(N_PART)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, size=N_PART)]),
        "p_type": pa.array([["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL"][k]
                            for k in rng.integers(5, size=N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, size=N_PART), pa.int32()),
        "p_retailprice": pa.array(money(rng, 900, 2000, N_PART))})

    day0, days = us(datetime(1995, 1, 1)), 6 * 365
    odate = day0 + rng.integers(days, size=N_ORDERS) * 86_400_000_000
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(N_CUSTOMER, size=N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array([["F", "O", "P"][k] for k in rng.integers(3, size=N_ORDERS)]),
        "o_totalprice": pa.array(money(rng, 1000, 400000, N_ORDERS)),
        "o_orderdate": ts_array(odate),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(5, size=N_ORDERS)])})

    lines = rng.integers(1, 8, size=N_ORDERS)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(N_ORDERS), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    write(out, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(N_PART, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(N_SUPPLIER, size=n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900, 100000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][k] for k in rng.integers(3, size=n_li)]),
        "l_linestatus": pa.array([["F", "O"][k] for k in rng.integers(2, size=n_li)]),
        "l_shipdate": ts_array(odate[l_order] + rng.integers(1, 120, size=n_li) * 86_400_000_000)})

    ev_ts = np.sort(us(datetime(2024, 1, 1)) + rng.integers(0, 5 * 86_400_000_000, size=N_EVENTS))
    write(out, "events", {
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": ts_array(ev_ts),
        "user_id": pa.array(rng.integers(500, size=N_EVENTS), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(5, size=N_EVENTS)]),
        "value": pa.array(money(rng, 0, 500, N_EVENTS)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(100, size=N_EVENTS)])})

    write(out, "documents", documents(rng))

    vecs = rng.normal(size=(N_VECS, DIM)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(10, size=N_VECS), pa.int32())})


if __name__ == "__main__":
    main()
