"""Seeded copy of the graft test fixture (TPC-H-ish star schema plus the
events, documents and embeddings tables), written as parquet.

The rows are a pure function of the scale factor: they come from a fixed
generator seed, with the value domains of the sf fixtures the program is
verified on (FIXTURES.md section B). The benchmark seed only draws the
row order of every table and how its rows split into parquet files, so
two seeds give the same relations laid out differently on disk.

Usage: python3 perfbench/gen.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
WORDS = ("a the data table column row key value join group sort filter scan "
         "hash merge window stream batch query order line part customer "
         "spark agg vector big small fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def counts(sf):
    """Row counts per table; they match the sf0.01 and sf0.1 fixtures."""
    s = sf / 0.1
    return {
        "customer": round(15000 * s), "supplier": round(1000 * s),
        "part": round(20000 * s), "orders": round(150000 * s),
        "lineitem": round(600000 * s), "events": round(100000 * s),
        "users": max(1, round(1500 * s)),
        "documents": max(500, round(5000 * s)),
        "embeddings": max(500, round(2000 * s)),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n).astype("datetime64[D]")
            .astype("datetime64[us]"))


def pick(rng, values, n, p=None):
    return np.array(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(sf):
    rng = np.random.default_rng(CONTENT_SEED)
    c = counts(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n)})
    n = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})
    n = c["part"]
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    keys = np.arange(n)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in
                   zip(pick(rng, adj, n), pick(rng, noun, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    n = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n),
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-01", n)),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n)})
    n = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n))})
    n = c["events"]
    span_us = 30 * 86400 * 10**6
    gaps = rng.exponential(span_us / (n + 1), n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, c["users"], n), pa.int64()),
        "event_type": pick(rng, ["click", "view", "purchase", "signup",
                                 "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = c["documents"]
    texts = [" ".join(pick(rng, WORDS, int(rng.integers(10, 101))))
             for _ in range(n)]
    # 5% near-duplicates: another document's text plus a marker word
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    n = c["embeddings"]
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return t


def write(out, sf, seed):
    """Writes <out>/<table>.parquet/part-<i>.parquet; returns row counts."""
    rng = np.random.default_rng(seed)
    rows = {}
    for name, tbl in tables(sf).items():
        perm = rng.permutation(tbl.num_rows)
        tbl = tbl.take(pa.array(perm))
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        n_files = int(rng.integers(1, 5)) if tbl.num_rows >= 1000 else 1
        cuts = np.sort(rng.choice(np.arange(1, tbl.num_rows), n_files - 1,
                                  replace=False)) if n_files > 1 else []
        bounds = [0, *cuts, tbl.num_rows]
        for i in range(n_files):
            part = tbl.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(d, f"part-{i:02d}.parquet"),
                           compression="snappy")
        rows[name] = tbl.num_rows
    return rows


if __name__ == "__main__":
    out, sf, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    print(write(out, sf, seed))
