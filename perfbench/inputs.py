"""Seeded input generator for the benchmark.

Writes the parquet tables the engine reads (`graft.sources.Tables`): the
TPC-H-ish star schema (region, nation, customer, supplier, part, orders,
lineitem) and the LLM-corpus tables (documents, embeddings). Column names,
types and value domains follow the shipped test data; only the values are
drawn from `--seed`, so one seed always gives byte-identical inputs and two
seeds give inputs of the same size and shape.

Usage: python3 perfbench/inputs.py <outDir> <seed> <tpchScale> <nDocs>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
DUP_SHARE = 0.05   # near-duplicate documents: another doc's text + " dup"
EMB_DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n).astype("datetime64[D]")
            .astype("datetime64[us]"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tpch(out, rng, scale):
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord, n_line = int(200_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    _write(out, "region", {"r_regionkey": i32(np.arange(5)),
                           "r_name": pa.array(REGIONS, pa.string())})
    _write(out, "nation", {"n_nationkey": i32(np.arange(25)),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                           "n_regionkey": i32(rng.integers(0, 5, 25))})
    _write(out, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out, "part", {
        "p_partkey": i64(keys),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line), pa.timestamp("us"))})


def corpus(out, rng, n_docs):
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(9, 101))])
             for _ in range(n_docs)]
    dups = rng.choice(n_docs, int(n_docs * DUP_SHARE), replace=False)
    for i in dups:
        texts[i] = texts[(i + rng.integers(1, n_docs)) % n_docs] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_docs, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32())})


def generate(out, seed, scale, n_docs):
    """Write every table for one seed into `out` (created if missing)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if scale > 0:
        tpch(out, rng, scale)
    if n_docs > 0:
        corpus(out, rng, n_docs)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4]))
