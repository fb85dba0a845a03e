#!/usr/bin/env python3
"""Seeded generator for the benchmark corpus.

Writes the ten tables graft's gates read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the schemas and value distributions of the graft test
corpus: a TPC-H-like star schema with uniform keys, an `events` stream
of 150 users per 0.01 scale, a 30-word-vocabulary document table with
planted near-duplicates, and 64-d unit embeddings in ten loose clusters.

Usage: python3 gen.py <outDir> <sf> <seed> [docScale]

`docScale` clones the `documents` table that many times (the curation
workload's scaled input), the way `tools/scaleup.py` clones a corpus:
copy c > 0 tags every non-stopword word with a per-copy suffix, so the
near-duplicate structure grows linearly with the copies instead of
quadratically. The same arguments always write the same rows.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
ADJ = "small red blue hot cold old new large".split()
NOUN = "ring widget bolt gear gizmo plate rod anvil".split()
TYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE FURNITURE HOUSEHOLD BUILDING".split()
PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = "click signup error view purchase".split()
STOP = {"a", "the"}
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    """10-99 random vocabulary words per doc; 5% of docs are near-copies
    of an earlier doc with its last word replaced by `dup` (shingle
    Jaccard >= 0.78, as in the test corpus)."""
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[-1] = "dup"
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return texts


def tag(c):
    """Per-copy word suffix: '' for the original, then a, b, ..., ba, ..."""
    s = ""
    while c > 0:
        s = chr(97 + c % 26) + s
        c //= 26
    return s


def clone(texts, copies):
    out = []
    for c in range(copies):
        t = tag(c)
        out += [" ".join(w if w in STOP else w + t for w in x.split(" ")) for x in texts]
    return out


def main(out, sf, seed, doc_scale=1):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_user = max(15, int(15000 * sf))
    n_doc = max(500, int(50000 * sf))
    n_vec = max(500, int(20000 * sf))

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_line)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[j // 2] for j in flags],
        "l_linestatus": [("O", "F")[j % 2] for j in flags],
        "l_shipdate": days(rng, n_line, "1995-01-02", 2498)})
    gaps = rng.exponential(30 * 86400e6 / n_evt, n_evt)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    write(out, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)],
        "value": np.round(np.maximum(rng.exponential(50.0, n_evt), 0.01), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)]})
    texts = clone(documents(rng, n_doc), doc_scale)
    langs = [LANGS[j] for j in rng.choice(5, n_doc, p=LANG_P)] * doc_scale
    write(out, "documents", {
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0, 1, (10, 64))
    vecs = centres[labels] * 0.35 + rng.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]),
         int(sys.argv[4]) if len(sys.argv) > 4 else 1)
