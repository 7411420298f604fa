"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names, types and value distributions of the
engine's sf0.01 test data: 2-decimal doubles, microsecond timestamps,
a 30-word document vocabulary with 5% near-duplicate documents, and
64-dimensional unit embeddings around 10 weak cluster centres. The same
seed always gives the same tables.

Usage: python3 gen_data.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 shape.
N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM, N_EVENTS = 15000, 60000, 10000
N_USERS, N_DOCS, N_VECS, DIM, N_LABELS = 150, 500, 500, 64, 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()

US_PER_DAY = 86_400_000_000


def cents(rng, lo, hi, n):
    """Uniform 2-decimal doubles in [lo, hi]: exact cents / 100."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def days_since(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, n) * np.timedelta64(1, "D")


def write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}))
    write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))
    write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": cents(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER)}))
    write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": cents(rng, -999.99, 9999.99, N_SUPPLIER)}))
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": rng.choice(names, N_PART),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": (90000 + np.arange(N_PART) % 1000 * 10) / 100.0}))
    write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": cents(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": days_since(rng, "1995-01-01", 2404, N_ORDERS),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)}))
    write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["O", "F"], N_LINEITEM),
        "l_shipdate": days_since(rng, "1995-01-02", 2498, N_LINEITEM)}))
    # Events arrive in event_id order over 30 days, microsecond stamps.
    offs = np.sort(rng.integers(0, 30 * US_PER_DAY, N_EVENTS))
    write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}))
    # Documents: 10-99 vocabulary words; 5% replaced by a copy of another
    # document with " dup" appended, the near-duplicates dedup must find.
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100)))
             for _ in range(N_DOCS)]
    for d in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), i64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], i64)}))
    centres = rng.standard_normal((N_LABELS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, N_VECS)
    vecs = 0.14 * centres[labels] + rng.standard_normal((N_VECS, DIM)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(N_VECS), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
