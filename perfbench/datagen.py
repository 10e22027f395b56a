"""Deterministic synthetic input tables for the benchmark.

Writes the TPC-H-shaped star schema the engine projects onto its graph
(region, nation, customer, supplier, part, orders, lineitem) plus the
documents and embeddings tables the text and vector pipelines read, one
parquet file per table, with the column names and types the engine's
registry entries expect. Row counts follow the shape of a 0.001 scale
factor (150 customers, 1.5k orders, 6k lineitems, 500 documents).

The tables depend only on ``DATA_SEED``; the workload seed given on the
command line shapes the request stream, not the data, so every run of
every seed measures the same graph.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import bench_common

DATA_SEED = 42
SCALE = 0.001
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")

N_CUSTOMER = int(150_000 * SCALE)
N_SUPPLIER = int(10_000 * SCALE)
N_PART = int(200_000 * SCALE)
N_ORDERS = int(1_500_000 * SCALE)
N_LINEITEM = int(6_000_000 * SCALE)
N_DOCS = 500
N_VECS = 500
EMB_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"]
WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, start: dt.date, days: int):
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]")
    return base + offs.astype("timedelta64[us]")


def _documents(rng):
    """Word-salad documents over a 30-word vocabulary. About 5% are an
    earlier document with " dup" appended (copies of copies included), the
    near-duplicate shape of the engine's own test corpus."""
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), N_DOCS)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng):
    """Unit-norm vectors scattered around ten labelled cluster centres."""
    centres = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    vecs = centres[labels] + 0.6 * rng.normal(size=(N_VECS, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, N_CUSTOMER)]})
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99)})
    pk = np.arange(N_PART, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, N_PART)],
        "p_type": [P_TYPES[k] for k in rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    ok = np.arange(N_ORDERS, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, N_ORDERS, 900.0, 500_000.0),
        "o_orderdate": _dates(rng, N_ORDERS, dt.date(1995, 1, 1), 2404),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, N_ORDERS)]})
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, N_LINEITEM, 900.0, 2100.0), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _dates(rng, N_LINEITEM, dt.date(1995, 1, 2), 2500)})
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def ensure_data(out_dir: str, scratch: str) -> str:
    """Write the tables under ``out_dir`` unless they are there. They are
    written under ``scratch`` first and moved into place in one rename."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = os.path.join(scratch, "data")
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    bench_common.publish(tmp, out_dir)
    return out_dir
