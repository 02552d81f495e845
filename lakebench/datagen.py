"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the engine's queries read (`region` ... `embeddings`,
one `<name>.parquet` file each) with the schemas of the engine's test data:
a TPC-H-like star schema, an event stream, and a document corpus with
64-dimensional unit embeddings. Every value comes from `numpy`'s PCG64
seeded by `seed`, so the same (scale, seed) always gives byte-identical
tables.

Usage: python3 datagen.py <out_dir> <scale> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the big small fast slow data table row column key value part line "
         "order customer scan join hash merge sort group agg filter window "
         "stream batch spark query vector").split()
COLORS = "blue old hot large cold red small new".split()
NOUNS = "widget gizmo ring gear bolt plate anvil rod".split()
SEGMENTS = "MACHINERY AUTOMOBILE FURNITURE HOUSEHOLD BUILDING".split()
PART_TYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click view purchase signup error".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def sizes(scale):
    """Row counts per table: linear in `scale` with small floors, like the
    engine's test data (sf0.01: 60k lineitem, 10k events, 500 documents)."""
    return {
        "customer": max(150, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1500, int(1_500_000 * scale)),
        "events": max(1000, int(1_000_000 * scale)),
        "users": max(150, int(15_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _ts_days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale, seed):
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{c} {w}" for c, w in zip(rng.choice(COLORS, npart),
                                              rng.choice(NOUNS, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts_days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    # 1-7 lines per order, numbered 1..k: (l_orderkey, l_linenumber) is a key
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts_days(rng, nl, "1995-01-02", "2001-11-04")})
    ne = n["events"]
    # ~30 days of events with exponential gaps, in microseconds
    gaps = rng.exponential(30 * 86400e6 / ne, ne).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.cumsum(gaps)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(60.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        # one document in twenty repeats an earlier one plus a marker word,
        # so near-duplicate detection has true positives to find
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def write(out_dir, scale, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(scale, seed).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
