"""Seeded synthetic fixture with the schema graft's loaders expect.

The engine reads a TPC-H-ish star schema plus `events`, `documents` and
`embeddings` parquet tables from one directory (see `graft.core.Tables`).
This module writes such a directory from a seed: the same seed and scale
always give byte-identical tables, so a benchmark run is reproducible from
its `--seed` alone. Column types match what the loaders normalise
(timestamps as parquet TIMESTAMP(MICROS), embeddings as list<float>).

Row counts follow the fixture convention `rows = base * sf`, with small
floors so tiny scales still have every key the joins need.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["hot", "old", "red", "small", "new", "large", "blue", "cold"]
PART_NOUN = ["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
US_PER_DAY = 86_400_000_000


def _ts(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(rng, n, start, span_days):
    return _ts(start, rng.integers(0, span_days, n) * US_PER_DAY)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def sizes(sf):
    def n(base, floor):
        return max(floor, int(round(base * sf)))
    return {
        "customer": n(150_000, 150), "supplier": n(10_000, 10),
        "part": n(200_000, 200), "orders": n(1_500_000, 1_500),
        "lineitem": n(6_000_000, 6_000), "events": n(1_000_000, 1_000),
        "users": n(15_000, 15), "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def generate(out, seed, sf, tables=TABLES):
    """Write the fixture tables for `sf` into `out` (created if needed).

    Keys are drawn per table from the table's own random stream, so a
    table is the same whether or not the others are written.
    """
    os.makedirs(out, exist_ok=True)
    n = sizes(sf)
    for t in tables:
        rng = np.random.default_rng([seed, int(sf * 1_000_000), TABLES.index(t)])
        WRITERS[t](out, rng, n)


def _region(out, rng, n):
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def _nation(out, rng, n):
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def _customer(out, rng, n):
    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})


def _supplier(out, rng, n):
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})


def _part(out, rng, n):
    npart = n["part"]
    _write(out, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)})


def _orders(out, rng, n):
    no, nc = n["orders"], n["customer"]
    _write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, no, "1995-01-01", 2404),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})


def _lineitem(out, rng, n):
    nl, no, npart, ns = n["lineitem"], n["orders"], n["part"], n["supplier"]
    _write(out, "lineitem", {
        "l_orderkey": np.sort(rng.integers(0, no, nl)),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, "1995-01-02", 2498)})


def _events(out, rng, n):
    ne = n["events"]
    _write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * US_PER_DAY, ne))),
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})


def _documents(out, rng, n):
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup gates' target
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    _write(out, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(out, rng, n):
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.2, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


WRITERS = {"region": _region, "nation": _nation, "customer": _customer,
           "supplier": _supplier, "part": _part, "orders": _orders,
           "lineitem": _lineitem, "events": _events, "documents": _documents,
           "embeddings": _embeddings}
