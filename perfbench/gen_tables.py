"""Deterministic generator for the tables the graft queries read.

Writes region, nation, customer, supplier, part, orders, lineitem,
documents, embeddings and events as one parquet file each (one row group,
snappy, timestamps as TIMESTAMP(MICROS)) under <out>/<table>.parquet.

The tables reproduce the engine's reference test tables (TESTDATA.md:
numpy default_rng(42), one parquet per table). The seven TPC-H-style
tables come out value for value equal to the reference at sf0.01 and
sf0.1; documents, embeddings and events have the reference's row counts,
schemas and shapes (perfbench/README.md, "Input tables", lists them).

The tables depend only on the scale factor and the fixed TABLE_SEED, never
on a run's --seed: the catalog checks compare query outputs against frozen
hashes, so every run must see the same tables. A run's --seed varies what
is drawn from them (record order, corrupt lines, arrival times, query
order).

Usage: python3 gen_tables.py <out_dir> <scale_factor>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
EMBEDDING_ROWS = {0.01: 500, 0.1: 2000}


def _ts(days_or_us, unit):
    return pa.array(days_or_us.astype(f"datetime64[{unit}]").astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_doc, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(50_000 * sf), int(1_000_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    pick = lambda xs, n, p=None: pa.array(np.asarray(xs)[rng.choice(len(xs), n, p=p)])
    out = {}
    out["region"] = pa.table({"r_regionkey": i32(np.arange(5)),
                              "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({"n_nationkey": i32(np.arange(25)),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": i32(np.arange(25) % 5)})
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    noun = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
    out["part"] = pa.table({
        "p_partkey": i64(np.arange(n_part)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    d0 = np.datetime64("1995-01-01", "D")
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(d0 + rng.integers(0, 2405, n_ord), "D"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": pick(["R", "A", "N"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": _ts(d0 + 1 + rng.integers(0, 2499, n_li), "D")})
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 101)))
             for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        j = rng.integers(0, n_doc - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    out["documents"] = pa.table({
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": pick(LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])})
    n_emb = EMBEDDING_ROWS[sf]
    x = rng.standard_normal((n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})
    span_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": _ts(ts, "us"),
        "user_id": i64(rng.integers(0, int(15_000 * sf), n_ev)),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return out


def main(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(t) + 1)


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]))
