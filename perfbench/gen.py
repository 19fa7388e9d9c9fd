"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (TPC-H-style star schema plus
`events`, `documents` and `embeddings`) with the column names, physical
parquet types and value distributions of the engine's test data, but
drawn from the benchmark's own seed. Each table is a directory
`<name>.parquet/part-0.parquet`, the layout a Spark-written corpus has.

`amplify` makes the key-offset self-union the engine's `ScaleUp` uniform
mode makes: copy i of every keyed table lives in its own key universe
(keys + i * 10^9), so joins stay intact while every table grows by the
factor; `region` and `nation` are not amplified.

The generator lives here, not in the program, so a change to the
program cannot change the benchmark's inputs.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_OFFSET = 1_000_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMB_DIM = 64
EMB_LABELS = 10


def _days(rng, n, start, end):
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, table):
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-0.parquet"))


def sizes(sf):
    """Row counts per table at scale factor `sf` (the test data's ratios)."""
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def generate(out_dir, seed, sf):
    """Write every table at scale factor `sf`, drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s)}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)}))

    nc = n["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, nc, -1000, 10000), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), s)}))

    ns = n["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, ns, -1000, 10000), f64)}))

    np_ = n["part"]
    keys = np.arange(np_)
    names = [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, np_),
                                        rng.choice(NOUNS, np_))]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, np_), s),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1), f64)}))

    no = n["orders"]
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(STATUSES, no), s),
        "o_totalprice": pa.array(_money(rng, no, 1000, 500000), f64),
        "o_orderdate": pa.array(_days(rng, no, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), s)}))

    nl = n["lineitem"]
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, nl, 900, 105000), f64),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, nl), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, nl), 2), f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
        "l_shipdate": pa.array(_days(rng, nl, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), ts)}))

    ne = n["events"]
    month_us = 30 * 86400 * 10**6
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, month_us, ne)).astype("timedelta64[us]")
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(t0 + offs, ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), s),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s)}))

    # documents: 10-100 words from a 30-word vocabulary; one in twenty is
    # a near-duplicate (an earlier document plus the token "dup")
    nd = n["documents"]
    texts = []
    for k in range(nd):
        if k >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P), s),
        "source": pa.array([f"src{k % 20}" for k in range(nd)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}))

    # embeddings: unit vectors around ten weak cluster centres
    nv = n["embeddings"]
    labels = rng.integers(0, EMB_LABELS, nv)
    centres = rng.normal(0, 0.07, (EMB_LABELS, EMB_DIM))
    v = centres[labels] + rng.normal(0, 1.0, (nv, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}))


AMPLIFY_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def amplify(src_dir, out_dir, factor):
    """Key-offset self-union of every table in `src_dir` by `factor`."""
    for name in ["region", "nation", *AMPLIFY_KEYS]:
        t = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        t = t.replace_schema_metadata(None)
        keys = AMPLIFY_KEYS.get(name)
        if keys:
            copies = []
            for i in range(factor):
                c = t
                for k in keys:
                    col = c.column(k).to_numpy() + i * KEY_OFFSET
                    c = c.set_column(c.schema.get_field_index(k), k,
                                     pa.array(col, c.schema.field(k).type))
                copies.append(c)
            t = pa.concat_tables(copies)
        _write(out_dir, name, t)
