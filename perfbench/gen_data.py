#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the registry reads (a TPC-H-shaped star
schema, an `events` table, a text corpus and an embedding table), one
single-row-group file each, with the same schemas, key ranges and value
grids as the reference data the engine is developed against: two-decimal
prices, midnight dates, a 31-word corpus vocabulary with ~5% near-duplicate
documents, and unit-norm 64-dimensional embeddings.

    python3 perfbench/gen_data.py <out_dir> [--sf 0.01] [--seed 42]

The same (sf, seed) always gives byte-identical values, so the per-entry
golden fingerprints in perfbench/goldens.json hold for the benchmark's
fixed dataset.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
DIM = 64
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, first_us, span_days, n):
    return (first_us + rng.integers(0, span_days, n) * US_PER_DAY).astype("datetime64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(100, min(2_000, int(50_000 * sf)))
    i32 = pa.int32()

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write(out, "part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(rng, EPOCH_1995, 2405, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": days(rng, EPOCH_1995 + US_PER_DAY, 2499, n_line)})

    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    write(out, "events", {
        "event_id": np.arange(n_ev),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document with a marker appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in
                                  rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))))
    write(out, "documents", {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0.0, 1.0, (10, DIM))
    vecs = rng.normal(0.0, 1.0, (n_emb, DIM)) + 0.15 * centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out, a.sf, a.seed)
