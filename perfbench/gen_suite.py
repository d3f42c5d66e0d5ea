"""Seeded test tables for the suite workload.

Writes the ten parquet tables the suite entries read
(``sources.tables.TESTDATA_TABLES``) at the shape of the project's
sf0.001 test data: a TPC-H-style star (region, nation, customer, supplier,
part, orders, lineitem), an ``events`` stream, ``documents`` over a
small vocabulary with exact and near duplicates, and 64-dimensional
clustered ``embeddings``. Column names and types are those FIXTURES.md
records for the sf0.001 tables (``events.ts`` timestamp[ns],
``o_orderdate`` and ``l_shipdate`` timestamp[ms]), so each entry and its
DuckDB oracle run unchanged and ``events`` takes ``load_testdata``'s
nanosecond path. Same seed, same bytes.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the stream query row fast small spark group customer line sort hash batch "
    "dup data filter value big key order table scan merge part window join slow "
    "agg column a vector"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "blue", "cold", "old", "new", "hot", "large")
PART_NOUN = ("widget", "rod", "ring", "anvil", "bolt")
PART_TYPES = ("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO")
LANGS = ("en", "en", "en", "es", "zh", "de", "fr")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

# The suite's tables are fixed, like the project's read-only test data;
# the benchmark seed only orders the entries.
TABLES_SEED = 42

SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "events": 1000, "documents": 500, "embeddings": 500}


def _ts(base: datetime, seconds: np.ndarray, unit: str) -> pa.Array:
    per_s = {"ms": 10**3, "ns": 10**9}[unit]
    ticks = int(base.replace(tzinfo=timezone.utc).timestamp()) * per_s + (seconds * per_s).astype(np.int64)
    return pa.array(ticks, type=pa.timestamp(unit))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def write_tables(out: str, seed: int) -> None:
    """Write all ten tables into ``out``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc, ns, npart, no = (SIZES[k] for k in ("customer", "supplier", "part", "orders"))
    _write(out, "customer", {
        "c_custkey": pa.array(range(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2), f64)})
    _write(out, "part", {
        "p_partkey": pa.array(range(npart), i64),
        "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(npart)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, npart), s),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900 + np.arange(npart) * 0.1, 2), f64)})

    odate = rng.integers(0, 6 * 365, no)
    lines = rng.integers(1, 8, no)
    lk = np.repeat(np.arange(no), lines)
    nl = len(lk)
    qty = rng.integers(1, 51, nl).astype(float)
    price = np.round(qty * rng.uniform(900, 2100, nl), 2)
    _write(out, "orders", {
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, no), 2), f64),
        "o_orderdate": _ts(datetime(1995, 1, 1), odate * 86400.0, "ms"),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), s)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lk, i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(price, f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl), s),
        "l_linestatus": pa.array(rng.choice(("O", "F"), nl), s),
        "l_shipdate": _ts(datetime(1995, 1, 2), (odate[lk] + rng.integers(0, 120, nl)) * 86400.0, "ms")})

    ne = SIZES["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    _write(out, "events", {
        "event_id": pa.array(range(ne), i64),
        "ts": _ts(datetime(2024, 1, 1), secs, "ns"),
        "user_id": pa.array(rng.integers(0, 15, ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), s),
        "value": pa.array(np.round(rng.uniform(0, 330, ne), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s)})

    nd = SIZES["documents"]
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if texts and r < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(len(texts)))])
        elif texts and r < 0.15:  # near duplicate: a few words replaced
            words = texts[int(rng.integers(len(texts)))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": pa.array(range(nd), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, nd), s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, nd)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = SIZES["embeddings"]
    centers = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = (centers[labels] + rng.normal(0, 0.05, (nv, 64))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
