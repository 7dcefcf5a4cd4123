"""Seeded generator for the query surface's input tables.

Writes one parquet file per table with the schemas the query surface
loads (graft.core.Tables): a TPC-H-like star schema, an `events` table,
a `documents` corpus and an `embeddings` table. The same seed gives
byte-identical tables. Sizes, the documents' vocabulary and their
near copies follow the sf0.01 fixtures the query surface's oracle gate
runs on.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
# The fixtures' 31-word vocabulary: these 30 words, and "dup", which only
# ends a near copy.
VOCAB = ("a the spark line column order small sort fast value scan hash slow "
         "group batch agg filter query big key window row part table stream "
         "merge data vector join customer").split()
LANGS = ["de", "en", "es", "fr", "zh"]
DIM = 64


def _money(rng, lo, hi, n):
    """Exact two-decimal doubles, as the fixtures' money columns are."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # one document in twenty is an earlier one with "dup" appended,
            # so the near-duplicate operators have pairs to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, DIM))
    v = centers[labels] + rng.normal(scale=1.5, size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def tables(seed):
    rng = np.random.default_rng(seed)
    s = SIZES
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    n = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = s["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["blue", "old", "red", "hot", "large", "cold", "small", "new"], n),
            rng.choice(["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"], n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10.0, 2)})
    n = s["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = s["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, "1995-01-01", 2500, n), pa.timestamp("us"))})
    n = s["events"]
    gaps = rng.integers(0, 500_000_000, n)  # µs between arrivals
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": _money(rng, 0.01, 490, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    out["documents"] = _documents(rng, s["documents"])
    out["embeddings"] = _embeddings(rng, s["embeddings"])
    return out


def write(seed, out_dir):
    """Write every table as `<out_dir>/<name>.parquet` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
