"""Seeded input tables for the batch workload.

The tables have the schemas of the repository's driver fixtures
(`region nation customer supplier part orders lineitem events
documents embeddings`), so every registered query reads them
unchanged.  Everything is drawn from one numpy PCG64 stream per table,
seeded from (seed, table name), so one seed always gives the same
bytes.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table for one input set (one batch pass).
SIZES = {
    "customer": 3_000,
    "supplier": 100,
    "part": 4_000,
    "orders": 60_000,
    "lineitem": 240_000,
    "events": 40_000,
    "documents": 6_000,
    "embeddings": 2_000,
}
N_USERS = 400
R_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "screw", "gear", "pipe", "rod", "cap"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window"]
EPOCH_1995 = np.datetime64("1995-01-01")
EPOCH_2024 = np.datetime64("2024-01-01")


def _rng(seed: int, table: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{seed}:{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _pick(rng, values, n, p=None):
    return pa.array(np.array(values)[rng.choice(len(values), n, p=p)])


def make_tables(seed: int, sizes: dict[str, int] | None = None) -> dict[str, pa.Table]:
    n = {**SIZES, **(sizes or {})}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": R_NAMES})

    rng = _rng(seed, "nation")
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})

    rng, nc = _rng(seed, "customer"), n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})

    rng, ns = _rng(seed, "supplier"), n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})

    rng, npart = _rng(seed, "part"), n["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 2100.0, npart), 2)})

    rng, no = _rng(seed, "orders"), n["orders"]
    odays = rng.integers(0, 2404, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], no),
        "o_totalprice": np.round(rng.uniform(900.0, 450000.0, no), 2),
        "o_orderdate": pa.array(EPOCH_1995 + odays.astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})

    rng, nl = _rng(seed, "lineitem"), n["lineitem"]
    okey = np.sort(rng.integers(0, no, nl)).astype(np.int64)
    first = np.r_[True, okey[1:] != okey[:-1]]
    idx = np.arange(nl)
    lineno = idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1
    sdays = odays[okey] + rng.integers(1, 96, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": _pick(rng, ["N", "A", "R"], nl),
        "l_linestatus": _pick(rng, ["O", "F"], nl),
        "l_shipdate": pa.array(EPOCH_1995 + sdays.astype("timedelta64[D]"),
                               pa.timestamp("us"))})

    rng, ne = _rng(seed, "events"), n["events"]
    ts_us = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(EPOCH_2024 + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]})

    rng, nd = _rng(seed, "documents"), n["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), ln)])
             for ln in rng.integers(10, 101, nd)]
    # A few exact duplicates and near duplicates (one word changed),
    # so the dedup and clustering queries have clusters to find.
    for a, b in rng.choice(nd, 2 * max(1, nd // 100), replace=False).reshape(-1, 2):
        texts[b] = texts[a]
    for a, b in rng.choice(nd, 2 * max(1, nd // 100), replace=False).reshape(-1, 2):
        words = texts[a].split(" ")
        words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts[b] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, nd, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    rng, nv = _rng(seed, "embeddings"), n["embeddings"]
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, nv)
    vec = 0.6 * centers[label] + rng.standard_normal((nv, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Each table as one parquet file of one row group, the layout of the
    driver fixtures: a scan of it runs as one task."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
