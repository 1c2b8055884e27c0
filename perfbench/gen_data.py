"""Seeded generator of the ten benchmark input tables.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the schemas the
engine's queries read (see the FIXTURES schema table) and value
distributions shaped like the TPC-H-ish test data: uniform keys and
categorical columns, two-decimal money columns, day-granular order and
ship dates, a sorted event stream with microsecond timestamps, documents
drawn from a small vocabulary with ~5% near-duplicates, and unit-norm
64-d embeddings weakly clustered by label.

    python3 perfbench/gen_data.py <out_dir> <scale> <seed> [table ...]

`scale` plays the role of a TPC-H scale factor (0.01 gives 60,000
lineitem rows). The same (scale, seed) always gives the same bytes.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, start, n_days, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(scale, seed):
    """Yield (name, pyarrow.Table) for every table; each table draws from
    its own child stream so generating a subset gives the same bytes."""
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(150, int(1_500_000 * scale))
    n_line = max(600, int(6_000_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    streams = np.random.SeedSequence(seed).spawn(10)
    r = [np.random.default_rng(s) for s in streams]

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    g = r[0]
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(g, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in g.integers(0, 5, n_cust)]})

    g = r[1]
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(g, -999.99, 9999.99, n_supp)})

    g = r[2]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
        "p_type": [TYPES[i] for i in g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    g = r[3]
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in g.integers(0, 3, n_ord)],
        "o_totalprice": _money(g, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(g, "1995-01-01", 2400, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in g.integers(0, 5, n_ord)]})

    g = r[4]
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
        "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(g, 900.0, 105000.0, n_line),
        "l_discount": g.integers(0, 11, n_line) / 100.0,
        "l_tax": g.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in g.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in g.integers(0, 2, n_line)],
        "l_shipdate": _days(g, "1995-01-02", 2500, n_line)})

    g = r[5]
    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(g.integers(0, month_us, n_ev))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(g.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in g.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(g.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {i}}}' for i in g.integers(0, 100, n_ev)]})

    g = r[6]
    texts = []
    for i in range(n_docs):
        if i > 0 and g.random() < 0.05:
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            words = g.integers(0, len(VOCAB), int(g.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in g.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    g = r[7]
    centers = g.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = g.integers(0, 10, n_emb)
    vecs = centers[labels] * 0.15 + g.normal(scale=0.125, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def generate(out_dir, scale, seed, only=()):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale, seed):
        if not only or name in only:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), set(sys.argv[4:]))
