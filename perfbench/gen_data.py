#!/usr/bin/env python3
"""Deterministic synthetic test tables for the benchmark.

Writes the ten tables the engine's entries read (TPC-H-style star schema plus
`events`, `documents` and `embeddings`) as parquet into `<out>/<table>.parquet`,
with the same column names, types, key ranges and value domains as the
project's fixture data. Row counts scale with `sf` (lineitem = 6M x sf).
The same (sf, seed) always gives byte-identical tables.

    python3 perfbench/gen_data.py OUT_DIR SF [SEED]
    python3 perfbench/gen_data.py --compare FIXTURE_DIR SF [SEED]

`--compare` generates the tables for SF in memory and checks them against a
directory of the project's fixture tables: same tables, schemas and row
counts, same min and max of every integer key column, and the same value set
of every string column with at most 40 distinct values. It prints each
difference and exits 1 if there is one.
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = ["vector", "batch", "part", "value", "a", "slow", "scan", "merge",
         "sort", "hash", "table", "join", "fast", "column", "key", "spark",
         "agg", "the", "line", "order", "data", "small", "customer", "query",
         "window", "big", "stream", "group", "row", "filter"]
COLORS = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUNS = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en"] * 3 + ["es", "zh", "de", "fr"]


def days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(days(rng, n_ord, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("F", "O")[i % 2] for i in flags],
        "l_shipdate": pa.array(days(rng, n_li, "1995-01-02", 2498), pa.timestamp("us"))})
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.choice(30 * 86_400_000_000, n_ev, replace=False)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(rng.permutation(ts), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus one or two markers
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0 / 8.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def main_args(out_dir: str, sf: float, seed: int) -> None:
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, f"{tmp}/{name}.parquet")
    os.replace(tmp, out_dir)


def compare(fixture_dir: str, sf: float, seed: int) -> list:
    """Differences between the generated tables and the fixture tables."""
    diffs = []
    for name, gen in tables(sf, seed).items():
        fix = pq.read_table(f"{fixture_dir}/{name}.parquet")
        if not fix.schema.equals(gen.schema, check_metadata=False):
            diffs.append(f"{name}: schema {gen.schema.types} != {fix.schema.types}")
            continue
        if fix.num_rows != gen.num_rows:
            diffs.append(f"{name}: {gen.num_rows} rows != {fix.num_rows}")
        for col, typ in zip(fix.schema.names, fix.schema.types):
            if pa.types.is_integer(typ) and (col.endswith("key") or col.endswith("_id")):
                g, f = pc.min_max(gen[col]).as_py(), pc.min_max(fix[col]).as_py()
                if g != f:
                    diffs.append(f"{name}.{col}: range {g} != {f}")
            elif pa.types.is_string(typ):
                f = set(pc.unique(fix[col]).to_pylist())
                if len(f) <= 40 and set(pc.unique(gen[col]).to_pylist()) != f:
                    diffs.append(f"{name}.{col}: value set differs from {sorted(f)}")
    return diffs


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        found = compare(sys.argv[2], float(sys.argv[3]), int(sys.argv[4]) if len(sys.argv) > 4 else 42)
        print("\n".join(found) or "generated tables match the fixture's schemas, row counts, "
              "key ranges and value sets")
        sys.exit(1 if found else 0)
    main_args(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
