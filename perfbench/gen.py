"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine reads (the TPC-H-shaped star
schema plus `events`, `documents` and `embeddings`) with the same schemas,
value domains and derived-column rules as the engine's reference test data:
uniform keys, `source = 'src' || doc_id % 20`, 5% of documents are an earlier
document's text plus " dup", unit-norm 64-d embeddings around ten label
centroids, and monotone event timestamps. Every table is one row group,
like the reference files, so the engine's small-input fan-out path is the
one taken. The row counts are those of the sf0.1 layout.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
ADJ = "large hot blue old cold red small shiny".split()
NOUN = "ring bolt plate gear widget rod anvil screw".split()
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
SEGMENTS = np.array(["HOUSEHOLD", "FURNITURE", "BUILDING", "MACHINERY", "AUTOMOBILE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# sf0.1 row counts
ROWS = dict(customer=15000, supplier=1000, part=20000, orders=150000,
            lineitem=600000, events=100000, documents=5000, embeddings=2000)


def _days(lo: str, hi: str, n: int, rng) -> pa.Array:
    a = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - a).astype(int)
    d = a + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, cols: dict) -> None:
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(t.num_rows, 1))


def generate(out: str, seed: int) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n = ROWS

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    k = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, k, rng),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, k)]})

    k = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, k, rng)})

    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, k), rng.integers(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": PTYPES[rng.integers(0, 6, k)],
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})

    k = n["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, k)],
        "o_totalprice": _money(1000.0, 500000.0, k, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", k, rng),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, k)]})

    k = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], k, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], k, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, k, rng),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, k)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", k, rng)})

    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, k))
    _write(out, "events", {
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, k, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, k)],
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})

    k = n["documents"]
    vocab = np.array(WORDS)
    lengths = rng.integers(10, 101, k)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), m)]) for m in lengths]
    # 5% planted near-duplicates: another document's text plus " dup"
    for i in np.sort(rng.choice(k, k // 20, replace=False)):
        j = int(rng.integers(0, k))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    k = n["embeddings"]
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, k)
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})

