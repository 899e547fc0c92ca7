"""Deterministic input tables for the ``corpus_analytics`` workload.

The twelve headline queries read ``lineitem``, ``orders``, ``customer``,
``nation``, ``region``, ``events``, ``documents`` and ``embeddings``.
This module writes those tables as parquet, as a pure function of the
seed: the same seed always yields the same bytes.

The tables copy the shape of the scale-factor-0.1 test data the
queries were written for (see ``TESTDATA.md``): the same row counts,
column names and types, key ranges and value distributions.
``documents`` has 10 to 99 tokens per text, drawn uniformly from the
same 30-word vocabulary, and 5% of the documents are a copy of another
one with the token ``dup`` appended, which is what the dedupe and
fingerprint queries find.  ``embeddings`` are 64-dimensional unit
vectors in random directions, with labels independent of them.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
N_PARTS, N_SUPPLIERS, N_USERS = 20_000, 1_000, 1_500
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_SHARE = 0.05  # documents that copy another one plus " dup"
DOC_TOKENS = (10, 99)
EMBED_DIM = 64
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS, LANG_P = ["en", "de", "fr", "es", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000
ORDERS_EPOCH_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
ORDER_DAYS = 2_405  # order dates span about 6.6 years
SHIP_DAYS = 2_499
EVENTS_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_DAYS = 30


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _days(rng: np.random.Generator, n: int, first_us: int, span: int) -> pa.Array:
    return pa.array(first_us + rng.integers(0, span, n) * DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
    texts = [" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), m)) for m in lens]
    copies = rng.choice(n, int(n * DUP_SHARE), replace=False)
    sources = rng.choice(np.setdiff1d(np.arange(n), copies), len(copies))
    for i, j in zip(copies, sources):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir: str | Path, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the eight tables under ``out_dir``; returns rows per table.
    ``scale`` multiplies the row counts of the six large tables."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {k: max(round(v * scale), 1) for k, v in ROWS.items()}
    cu, od, li, ev = (rows[k] for k in ("customer", "orders", "lineitem", "events"))

    tables = {
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
            "c_custkey": pa.array(np.arange(cu), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(cu)],
            "c_nationkey": pa.array(rng.integers(0, 25, cu), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, cu),
            "c_mktsegment": _pick(rng, SEGMENTS, cu),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(od), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, cu, od), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], od),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, od),
            "o_orderdate": _days(rng, od, ORDERS_EPOCH_US, ORDER_DAYS),
            "o_orderpriority": _pick(rng, PRIORITIES, od),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, od, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
            "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], li),
            "l_linestatus": _pick(rng, ["F", "O"], li),
            "l_shipdate": _days(rng, li, ORDERS_EPOCH_US + DAY_US, SHIP_DAYS),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(ev), pa.int64()),
            "ts": pa.array(np.sort(EVENTS_EPOCH_US + rng.integers(
                0, EVENT_DAYS * DAY_US, ev)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ev),
            "value": np.round(rng.exponential(50.0, ev), 2),
            "props": _pick(rng, [json.dumps({"k": k}) for k in range(100)], ev),
        }),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
