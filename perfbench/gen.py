"""Seeded input generator for the benchmark.

Writes the ten warehouse tables (one parquet file each) with the schemas
and value distributions of the repository's fixtures: a TPC-H-ish star
schema, a 30-day `events` stream, a word-salad `documents` corpus with ~5%
near-duplicates, and L2-normalised 64-dim `embeddings`. The same seed and
scale always give the same files.

Usage: python3 gen.py <out_dir> <seed> <scale>   (scale: 0.01 or 0.1)
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("row the query stream key agg scan slow table part a merge window "
         "order column join vector value hash batch sort data big filter "
         "fast spark line small customer group").split()
ADJ = "small large hot cold new old red blue".split()
NOUN = "ring gear bolt plate anvil rod widget gizmo".split()
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENTS_START_US = 1704067200 * 10**6      # 2024-01-01 00:00:00 UTC
EVENT_DAYS = 30


def sizes(scale):
    """Row counts per table; documents/embeddings follow the fixtures'
    floor of 500 rows below sf0.1."""
    n = lambda base: max(1, int(round(base * scale)))
    return {
        "supplier": n(10_000), "customer": n(150_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": 500 if scale <= 0.01 else n(50_000),
        "embeddings": 500 if scale <= 0.01 else n(20_000),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days_between(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def generate(out, seed, scale):
    rng = np.random.default_rng(seed)
    s = sizes(scale)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    ns = s["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -1000, 10000, ns)})

    nc = s["customer"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -1000, 10000, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})

    npart = s["part"]
    keys = np.arange(npart)
    write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in
                   zip(rng.choice(ADJ, npart), rng.choice(NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})

    no = s["orders"]
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000, 500000, no),
        "o_orderdate": days_between(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)})

    nl = s["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": days_between(rng, "1995-01-02", "2001-11-04", nl)})

    ne = s["events"]
    span_us = EVENT_DAYS * 86400 * 10**6
    ts = np.sort(rng.choice(span_us, ne, replace=False)) + EVENTS_START_US
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = s["documents"]
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101)))
             for _ in range(nd)]
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        src = int(rng.integers(0, nd))
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = s["embeddings"]
    v = rng.standard_normal((nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
