#!/usr/bin/env python3
"""Seeded tables for the query_suite workload.

    python3 perfbench/tables.py --seed N --out DIR

Writes the ten tables graft.SparkEntry.queries read (region nation customer
supplier part orders lineitem events documents embeddings), one parquet file
each, at roughly the row counts of the 0.001 scale factor. Column names and
Arrow types match the test tables of TESTDATA.md exactly (int64 keys,
timestamp[us] without zone, list<float> embeddings), because the oracle
check compares output types strictly. The same seed gives the same bytes.
"""
import argparse
import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark scan merge join filter batch stream vector column row table query "
         "window agg sort hash data key value order group part line fast slow big "
         "small the a customer").split()
LANGS = ("en",) * 5 + ("de", "fr", "es", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_WORDS = ("small", "red", "blue", "green", "large", "ring", "widget", "bolt", "gear", "pipe")
PART_TYPES = ("ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

SIZES = dict(customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
             events=1000, documents=500, embeddings=500)


def ts(seconds):
    return dt.datetime(1970, 1, 1) + dt.timedelta(seconds=seconds)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def text(r):
    return " ".join(r.choice(WORDS) for _ in range(r.randint(8, 90)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    r = random.Random(a.seed)
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    tsu = pa.timestamp("us")

    write(a.out, "region", {"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(REGIONS, s)})
    write(a.out, "nation", {"n_nationkey": pa.array(range(25), i32),
                            "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
                            "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    n = SIZES["customer"]
    write(a.out, "customer", {
        "c_custkey": pa.array(range(n), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)], s),
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n)], i32),
        "c_acctbal": pa.array([round(r.uniform(-999, 9999), 2) for _ in range(n)], f64),
        "c_mktsegment": pa.array([r.choice(SEGMENTS) for _ in range(n)], s)})
    n = SIZES["supplier"]
    write(a.out, "supplier", {
        "s_suppkey": pa.array(range(n), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)], s),
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n)], i32),
        "s_acctbal": pa.array([round(r.uniform(-999, 9999), 2) for _ in range(n)], f64)})
    n = SIZES["part"]
    write(a.out, "part", {
        "p_partkey": pa.array(range(n), i64),
        "p_name": pa.array([f"{r.choice(PART_WORDS[:5])} {r.choice(PART_WORDS[5:])}"
                            for _ in range(n)], s),
        "p_brand": pa.array([f"Brand#{r.randint(1, 25)}" for _ in range(n)], s),
        "p_type": pa.array([r.choice(PART_TYPES) for _ in range(n)], s),
        "p_size": pa.array([r.randint(1, 50) for _ in range(n)], i32),
        "p_retailprice": pa.array([round(900 + k * 0.1, 2) for k in range(n)], f64)})
    n, nc = SIZES["orders"], SIZES["customer"]
    day0 = int(dt.datetime(1992, 1, 1).timestamp()) - int(dt.datetime(1970, 1, 1).timestamp())
    write(a.out, "orders", {
        "o_orderkey": pa.array(range(n), i64),
        "o_custkey": pa.array([r.randrange(nc) for _ in range(n)], i64),
        "o_orderstatus": pa.array([r.choice("FOP") for _ in range(n)], s),
        "o_totalprice": pa.array([round(r.uniform(1000, 500000), 2) for _ in range(n)], f64),
        "o_orderdate": pa.array([ts(day0 + 86400 * r.randrange(2900)) for _ in range(n)], tsu),
        "o_orderpriority": pa.array([r.choice(PRIORITIES) for _ in range(n)], s)})
    n, no, np_, ns = SIZES["lineitem"], SIZES["orders"], SIZES["part"], SIZES["supplier"]
    qty = [float(r.randint(1, 50)) for _ in range(n)]
    write(a.out, "lineitem", {
        "l_orderkey": pa.array([r.randrange(no) for _ in range(n)], i64),
        "l_partkey": pa.array([r.randrange(np_) for _ in range(n)], i64),
        "l_suppkey": pa.array([r.randrange(ns) for _ in range(n)], i64),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(n)], i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array([round(q * r.uniform(900, 3000), 2) for q in qty], f64),
        "l_discount": pa.array([r.randint(0, 10) / 100 for _ in range(n)], f64),
        "l_tax": pa.array([r.randint(0, 8) / 100 for _ in range(n)], f64),
        "l_returnflag": pa.array([r.choice("ANR") for _ in range(n)], s),
        "l_linestatus": pa.array([r.choice("OF") for _ in range(n)], s),
        "l_shipdate": pa.array([ts(day0 + 86400 * r.randrange(3300)) for _ in range(n)], tsu)})
    n = SIZES["events"]
    t, times = int(dt.datetime(2024, 1, 1).timestamp()) * 10**6, []
    for _ in range(n):
        t += r.randrange(1, 300 * 10**6)
        times.append(t)
    write(a.out, "events", {
        "event_id": pa.array(range(n), i64),
        "ts": pa.array(times, tsu),
        "user_id": pa.array([r.randrange(200) for _ in range(n)], i64),
        "event_type": pa.array([r.choice(EVENT_TYPES) for _ in range(n)], s),
        "value": pa.array([round(r.uniform(0, 50), 2) for _ in range(n)], f64),
        "props": pa.array(['{"k": %d}' % r.randrange(100) for _ in range(n)], s)})
    # documents: ~5% exact and ~5% one-word-edit copies of earlier rows, so
    # the dedup queries have duplicates to find
    n, docs = SIZES["documents"], []
    for k in range(n):
        u = r.random()
        if k > 10 and u < 0.05:
            docs.append(docs[r.randrange(k)])
        elif k > 10 and u < 0.10:
            w = docs[r.randrange(k)].split(" ")
            w[r.randrange(len(w))] = r.choice(WORDS)
            docs.append(" ".join(w))
        else:
            docs.append(text(r))
    write(a.out, "documents", {
        "doc_id": pa.array(range(n), i64),
        "text": pa.array(docs, s),
        "lang": pa.array([r.choice(LANGS) for _ in range(n)], s),
        "source": pa.array([f"src{r.randrange(20)}" for _ in range(n)], s),
        "n_chars": pa.array([len(d) for d in docs], i64)})
    n, dim = SIZES["embeddings"], 64
    centers = [[r.gauss(0, 0.15) for _ in range(dim)] for _ in range(4)]
    labels = [r.randrange(4) for _ in range(n)]
    vecs = [[c + r.gauss(0, 0.05) for c in centers[lab]] for lab in labels]
    write(a.out, "embeddings", {
        "vec_id": pa.array(range(n), i64),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    main()
