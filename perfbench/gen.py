#!/usr/bin/env python3
"""Seeded input generator for the benchmark's batch workloads.

Writes the ten parquet tables the SparkEntry queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the shapes and value distributions of the project's synthetic
TPC-H-ish test tables (FIXTURES.md section C):

  - TPC-H columns are independent uniforms over the same domains
    (dates 1995-01-01..2001-08-01 for orders, ..2001-11-04 for ship dates,
    discount 0..0.10, tax 0..0.08, 5 segments, 25 brands, 6 part types);
  - documents are word salad over a 30-word vocabulary, 10..100 words each,
    with 5% planted near-duplicates (a copy of another document plus the
    word "dup");
  - embeddings are unit-norm 64-d Gaussian vectors with labels 0..9;
  - events are time-ordered over 30 days of January 2024.

The same seed always gives byte-identical tables. `perfbench/run.py`
calls `generate` once per seed and caches the tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast row "
         "agg key query scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# TPC-H scale factor of the TPC-H tables and events; rows of documents and
# embeddings
SF, DOCS, VECS = 0.01, 1000, 1000


def _days(lo, hi, n, rng):
    """Uniform whole days in [lo, hi] as numpy datetime64[us]."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi - lo) / np.timedelta64(1, "D")) + 1
    return (lo + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(out, seed):
    os.makedirs(out, exist_ok=True)
    # one independent stream per table, so resizing one table leaves the
    # others unchanged
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(
        ["customer", "supplier", "part", "orders", "lineitem", "events",
         "documents", "embeddings"])}
    n_cust, n_supp = int(150_000 * SF), max(int(10_000 * SF), 10)
    n_part, n_ord = int(200_000 * SF), int(1_500_000 * SF)
    n_line, n_ev = int(6_000_000 * SF), int(1_000_000 * SF)
    n_users = max(int(15_000 * SF), 10)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rngs["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, r),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})

    r = rngs["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, r)})

    r = rngs["part"]
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(np.array(COLORS)[r.integers(0, 8, n_part)], " "),
                              np.array(NOUNS)[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    r = rngs["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(1000.0, 500000.0, n_ord, r),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, r),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})

    r = rngs["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, n_line, r),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, r)})

    r = rngs["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86400 * 1_000_000, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = rngs["documents"]
    lens = r.integers(10, 101, DOCS)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    base = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(DOCS)]
    text = list(base)
    for i in np.flatnonzero(r.random(DOCS) < 0.05):
        text[i] = base[r.integers(0, DOCS)] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[r.choice(5, DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})

    r = rngs["embeddings"]
    x = r.standard_normal((VECS, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(VECS, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": r.integers(0, 10, VECS).astype(np.int32)})

