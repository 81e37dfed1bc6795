#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten fixture tables the engine reads (`graft.Tables`): a
TPC-H-like star schema, the `events` stream table, `documents` and
`embeddings`, one snappy parquet file each with one row group, in the
same physical types as the fixtures described in FIXTURES.md (naive
microsecond timestamps, int32 keys where the fixtures have them).

The tables are a pure function of the scale: numpy's PCG64 generator,
seeded with the constant DATA_SEED, is platform-independent, so the same
scale gives byte-identical rows on any machine. `documents` and
`embeddings` come from a stream of their own and do not depend on the
scale, so a maintained channel or a curation run does the same work on
either scale.

Usage: python3 perfbench/gen_data.py <outDir> <scale>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# name -> (TPC-H scale factor, events rows, events keys)
SCALES = {
    "tiny": (0.001, 1_000, 15),
    "main": (0.01, 30_000, 1_500),
}
N_DOCS = N_EMB = 500

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "black"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def _days(base, offsets):
    start = np.datetime64(base, "us")
    return start + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, scale):
    sf, n_events, n_keys = SCALES[scale]
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{c} {n}" for c, n in zip(rng.choice(COLORS, n_part),
                                               rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_line))})

    # events: distinct, sorted timestamps over January 2024, ids in ts order
    span_us = 30 * 86_400 * 1_000_000
    offs = np.unique(rng.integers(0, span_us, n_events * 2))
    offs = np.sort(rng.choice(offs, n_events, replace=False))
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_keys, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    _corpus(out)


def _corpus(out):
    """`documents` and `embeddings`, the same at every scale."""
    rng = np.random.default_rng([DATA_SEED, 1])
    # random sentences over a 30-word vocabulary; 5% carry the rare `dup`
    # token and ~0.2% are exact copies of an earlier document
    texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(10, 101, N_DOCS)]
    for i in np.flatnonzero(rng.random(N_DOCS) < 0.05):
        texts[i] += " dup"
    for i in sorted(rng.choice(np.arange(1, N_DOCS), max(1, N_DOCS // 600), replace=False)):
        texts[i] = texts[int(rng.integers(0, i))]
    _write(out, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    emb = rng.standard_normal((N_EMB, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[2] not in SCALES:
        sys.exit(f"usage: gen_data.py <outDir> <{'|'.join(SCALES)}>")
    generate(sys.argv[1], sys.argv[2])
