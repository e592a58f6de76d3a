#!/usr/bin/env python3
"""Seeded generator of the tables the query workload reads.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as flat parquet files (`<out>/<table>.parquet`)
with the schemas the registered queries expect: a TPC-H-like star schema,
an events stream, a small document corpus with near-duplicates, and unit
embedding vectors. Row counts are fixed; the seed only changes values, so
the work a query does is about the same for every seed.

Usage: python3 gen_tables.py <out_dir> <seed>
"""
import os
import sys
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = dict(customer=500, supplier=50, part=700, orders=5000,
            lineitem=20000, events=5000, users=100, documents=500,
            embeddings=500)
DIM = 64
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING"]
PTYPES = ["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM", "SMALL"]
ADJ = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
VOCAB = ("scan column window order sort part agg value line key join merge "
         "query group a vector hash slow stream filter fast batch the spark "
         "table small data big customer row").split()


def day_us(y, m, d):
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000


def random_days_us(rng, n, lo, hi):
    days = rng.integers(0, (hi - lo) // 86_400_000_000 + 1, n)
    return pa.array(lo + days * 86_400_000_000, pa.timestamp("us"))


def cents(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": cents(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": cents(rng, n["supplier"], -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n["part"]),
                                             rng.choice(NOUN, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PTYPES, n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 200) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
        "o_totalprice": cents(rng, n["orders"], 1000, 500000),
        "o_orderdate": random_days_us(rng, n["orders"], day_us(1995, 1, 1),
                                      day_us(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist()})
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 4000, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m).tolist(),
        "l_linestatus": rng.choice(["O", "F"], m).tolist(),
        "l_shipdate": random_days_us(rng, m, day_us(1995, 1, 2),
                                     day_us(2001, 11, 4))})
    e = n["events"]
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, e)) + day_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e).tolist(),
        "value": cents(rng, e, 0.01, 330.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    texts = []
    for i in range(n["documents"]):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 101)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n["documents"]).tolist(),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    v = rng.standard_normal((n["embeddings"], DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32())})
    return t


def write(out, seed):
    os.makedirs(out, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
