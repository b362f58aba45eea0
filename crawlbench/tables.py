"""Seeded generator for the analytic workload's input tables.

Produces the tables the eight timed query leaves read, with the
shapes and row counts of the project's scale-factor-0.1 star schema
(600k lineitem rows, 5k documents, 2k 64-d embeddings, 100k events),
so the benchmark needs nothing outside its checkout. The same seed
gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

N_DOCS = 5_000
N_EMB, EMB_DIM, N_CLUSTERS = 2_000, 64, 10
N_EVENTS, N_USERS = 100_000, 1_500
N_LINEITEM, N_PART, N_SUPP, N_NATION = 600_000, 20_000, 1_000, 25


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = []
    for _ in range(N_DOCS):
        if texts and rng.random() < 0.05:
            # a near-duplicate of an earlier document
            src = texts[int(rng.integers(len(texts)))]
            texts.append(src + " dup")
            continue
        n_words = int(rng.integers(8, 100))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)],
            "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(0, 1, (N_CLUSTERS, EMB_DIM))
    label = rng.integers(0, N_CLUSTERS, N_EMB)
    vecs = centers[label] + rng.normal(0, 0.6, (N_EMB, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, N_EMB * EMB_DIM + 1, EMB_DIM), pa.int32()), flat
            ),
            "label": pa.array(label, pa.int32()),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, N_EVENTS))
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(base + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def _star(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = N_LINEITEM
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPP, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": pa.array(
                np.datetime64("1992-01-01", "us")
                + (rng.integers(0, 3_650, n) * 86_400 * 10**6).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
            "p_name": [f"part {i}" for i in range(N_PART)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, N_PART)],
            "p_type": [("LARGE", "ECONOMY", "SMALL")[i] for i in rng.integers(0, 3, N_PART)],
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(N_PART) * 0.1, 2),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
            "s_nationkey": pa.array(rng.integers(0, N_NATION, N_SUPP), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.0, 9999.0, N_SUPP), 2),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(N_NATION), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATION)],
            "n_regionkey": pa.array(np.arange(N_NATION) % 5, pa.int32()),
        }
    )
    return {"lineitem": lineitem, "part": part, "supplier": supplier, "nation": nation}


def generate(out_dir: str, seed: int) -> list[str]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the names."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
        "events": _events(rng),
        **_star(rng),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return list(tables)
