"""Seeded input tables for the benchmark, in the schema of the
repository's fixtures (``FIXTURES.md``).

The tables are the ones the example pipelines read (TPC-H-ish
``customer``/``orders``, the ``events`` stream and the ``documents``
corpus), one parquet file each.  Row counts follow the fixtures' scale
factors; values come from ``numpy`` seeded by the workload seed, so one
seed always gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# contact details the governance pipeline's PII redaction must find
PII = ["mail jo@example.com", "call +1 555 010 2368", "ip 10.0.0.7"]
US_PER_DAY = 86_400_000_000


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at a TPC-H-style scale factor.  ``documents`` keeps at
    least 500 rows, since ``batched_dedup_load.sql`` slices doc ids up to
    240 and the governance caps need every source populated."""
    return {
        "customer": max(150, round(150_000 * scale)),
        "orders": max(1_500, round(1_500_000 * scale)),
        "events": max(1_000, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })


def _orders(rng: np.random.Generator, n: int, n_customers: int) -> pa.Table:
    day0 = np.datetime64("1992-01-01", "D").astype(np.int64)
    days = rng.integers(day0, day0 + 11 * 365, n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n, dtype=np.int64),
        "o_orderstatus": rng.choice(STATUSES, n),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": _ts(days * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    n_users = max(50, n // 66)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(t0, t0 + 30 * US_PER_DAY, n))),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.1:
            # an exact re-post of an earlier document: dedup has work to do
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        if rng.random() < 0.2:
            words.insert(int(rng.integers(0, len(words))), PII[i % len(PII)])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def generate(out_dir: str, seed: int, scale: float) -> dict[str, str]:
    """Write ``{out_dir}/{table}.parquet`` for every table; returns the
    paths by table name."""
    rng = np.random.default_rng(seed)
    n = row_counts(scale)
    tables = {
        "customer": _customer(rng, n["customer"]),
        "orders": _orders(rng, n["orders"], n["customer"]),
        "events": _events(rng, n["events"]),
        "documents": _documents(rng, n["documents"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
