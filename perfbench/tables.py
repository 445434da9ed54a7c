"""Seeded generator for the operator tables (documents, embeddings,
events and the TPC-H-style star schema) that ``queries.REGISTRY``
reads, in the same schemas as the project's fixture directories
(TESTDATA.md). Pure numpy + pyarrow: the same seed gives the same bytes."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "hot", "new", "red", "small", "big", "old", "green"]
P_NOUN = ["anvil", "bolt", "ring", "rod", "plate", "widget", "gear", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

#: row counts per table at scale 1.0 (the fixture sf0.1 shapes)
BASE_ROWS = {
    "documents": 5000, "embeddings": 2000, "events": 100_000,
    "customer": 15_000, "supplier": 1000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000,
}


def _days(rng, n, start: datetime, span_days: int):
    return [start + timedelta(days=int(d)) for d in rng.integers(0, span_days, n)]


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``out_dir/<name>.parquet``; return row counts."""
    rng = np.random.default_rng(seed)
    n = {k: max(8, int(v * scale)) for k, v in BASE_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    # documents: bag-of-words text, ~5% near-duplicates of an earlier doc
    texts = []
    for i in range(n["documents"]):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n["documents"]), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n["documents"], p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n["documents"])], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # embeddings: unit vectors around weak per-label centres
    labels = rng.integers(0, 10, n["embeddings"])
    centres = rng.normal(0.0, 0.6, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n["embeddings"], 64)) + centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    # events: time-ordered stream over 30 days
    ne = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    epoch = datetime(2024, 1, 1)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array([epoch + timedelta(microseconds=int(t)) for t in ts_us],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, int(ne * 0.015)), ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2), pa.float64()),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
                          pa.string()),
    })

    # TPC-H-style star schema
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, npart, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2), pa.float64()),
    })
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(rng.choice(P_TYPES, npart), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(retail, pa.float64()),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2), pa.float64()),
        "o_orderdate": pa.array(_days(rng, no, datetime(1995, 1, 1), 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
    })
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * retail[partkey] * rng.uniform(0.9, 1.1, nl), 2),
                                    pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
        "l_shipdate": pa.array(_days(rng, nl, datetime(1995, 1, 2), 2498), pa.timestamp("us")),
    })

    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
