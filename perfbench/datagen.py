"""Seeded generator of the registry's input tables.

Writes the ten parquet tables the registry queries read (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`) with the column names,
types and value domains of the engine's reference test data. `scale` plays
the role of the TPC-H scale factor: 0.01 gives 60,000 lineitem rows.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "nut"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the data table row column key value part order line customer "
         "query scan join merge sort hash agg group filter window stream batch "
         "spark vector fast slow big small").split()
DAY_US = 86_400 * 1_000_000


def _ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(50_000 * scale)
    out: dict[str, pa.Table] = {}

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
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng.integers(0, 2500, n_line), "1995-01-02")})
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(base + (secs * 1e6).astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):  # near-duplicates
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(seed: int, scale: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
