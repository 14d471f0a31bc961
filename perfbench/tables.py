"""Seeded input tables for the ``query_suite`` workload.

The query library reads TPC-H-like tables plus ``events``, ``documents``
and ``embeddings`` from ``<dir>/<table>.parquet``. This module writes the
tables the benchmark's query set reads, with the sizes, schemas and value
shapes of the library's reference data at scale 0.01: the same column
types (timestamps without a zone, so Spark reads them as
``timestamp_ntz``), one row group per file, a 31-word vocabulary,
exponential event values, unit-norm 64-dim embeddings in 10 clusters and
about 10% near-duplicate documents. Same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table, as in the reference data at scale 0.01
ROWS = {"customer": 1500, "orders": 15000, "lineitem": 60000, "events": 10000,
        "documents": 500, "embeddings": 500}
N_USERS = 150
N_PARTS = 2000
N_SUPPLIERS = 100
DIM = 64
N_LABELS = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["en", "de", "fr", "es", "zh"], [0.45, 0.15, 0.15, 0.13, 0.12]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(rng, n, start, end):
    span = (end - start).days
    return [start + dt.timedelta(days=int(d)) for d in rng.integers(0, span, n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _star(rng) -> dict[str, pa.Table]:
    n_c, n_o, n_l = ROWS["customer"], ROWS["orders"], ROWS["lineitem"]
    qty = rng.integers(1, 51, n_l).astype(float)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": rng.choice(SEGMENTS, n_c),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": pa.array(
                _days(rng, n_o, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
                pa.timestamp("us"),
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_o),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
            "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": pa.array(
                _days(rng, n_l, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 5)),
                pa.timestamp("us"),
            ),
        }),
    }


def _events(rng) -> pa.Table:
    n = ROWS["events"]
    t0 = dt.datetime(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(o)) for o in offs],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(np.maximum(rng.exponential(50.0, n), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            # near duplicate: an earlier document with a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 3):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns table → bytes."""
    rng = np.random.default_rng(seed)
    tables = dict(_star(rng), events=_events(rng), documents=_documents(rng),
                  embeddings=_embeddings(rng))
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = os.path.getsize(path)
    return sizes
