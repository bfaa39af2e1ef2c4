"""Seeded input generator for the benchmark.

Writes one parquet file per table into a directory, with the schemas the
program's query packs read (a TPC-H-like star schema, an `events` stream,
a `documents` corpus and an `embeddings` table). The same seed and scale
give byte-identical files; nothing here depends on the program under test.

Sizes and value distributions follow the repository's reference test
tables (TESTDATA.md). Scale 1.0 gives the row counts of the sf0.01 set,
the one tools/check_oracle.py runs on: 1,500 customers, 100 suppliers,
2,000 parts, 15,000 orders, 60,000 lineitems, 10,000 events, 500
documents, 500 embeddings. What each column follows, as measured on the
sf0.01 and sf0.1 sets, is noted next to it below.

Usage: python3 perfbench/gen.py <out_dir> <seed> <scale>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 30 words every reference document is drawn from, each about equally
# often (per-word counts within +-4 % of the mean on sf0.1)
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query big "
         "order group filter stream vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
# language shares on sf0.1: de 0.14, en 0.41, es 0.15, fr 0.15, zh 0.15
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), str(Path(out) / f"{name}.parquet"))


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def generate(out, seed, scale):
    Path(out).mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    k = max(1, int(round(10 * scale)))
    n_cust, n_supp, n_part = 150 * k, 10 * k, 200 * k
    n_ord, n_line, n_evt = 1500 * k, 6000 * k, 1000 * k
    n_docs = n_emb = max(50, int(round(500 * scale)))

    # star schema: as in the reference sets, every key, flag, price and
    # date is uniform over its range and independent of the others
    # (orderdate 1995-01-01..2001-08-01, shipdate 1995-01-02..2001-11-04,
    # quantity 1-50, discount 0-0.10, tax 0-0.08, about 4 lines per order);
    # retail price steps by 0.1 from 900.00 with the part key

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    # events: 30 days of sorted timestamps from 2024-01-01 over 15 users per
    # 100 events; uniform event types; values exponential with mean 50
    # (reference: mean 49.6, median 34.6)
    span_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_evt))
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 15 * k, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_evt)]})

    # documents: 10-100 uniformly drawn words; 4.8 % (sf0.01: 24 of 500;
    # sf0.1: 244 of 5,000) are an earlier document plus the token " dup",
    # the near duplicates the dedup ops look for; sources round-robin over 20
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: isotropic random unit vectors in 64 dimensions with a
    # uniform label in 0-9 that does not cluster them: in the reference
    # sets the mean vector of each label has norm ~1/sqrt(label size), as
    # for independent directions, and no pair has cosine above 0.45
    dim = 64
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0.0, 1.0, (n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
