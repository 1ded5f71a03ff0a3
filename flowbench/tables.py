"""Seeded stand-ins for the four fixture tables the batch mix reads.

Schemas follow FIXTURES.md; row counts are those of the sf0.01 fixture
files: 500 documents of word soup over a small vocabulary, 10k events
from 150 users over January 2024, 1500 TPC-H-style customers and 500
unit-norm 64-d embeddings.  (The fixture generator keeps documents and
embeddings at 500 rows at both sf0.001 and sf0.01; they grow at sf0.1.)
Duplicate (4%) and near-duplicate (10%, one to three words replaced)
documents are planted so the dedup entry has clusters to find; the
rates are chosen, not measured from the fixture.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark order data column join small line customer query big stream "
         "window sort group filter vector").split()
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
LANGS = ("en", "de", "fr", "es", "zh")


def documents(rng: np.random.Generator, n: int = 500) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.14:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(20, 80))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(j)] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng: np.random.Generator, n: int = 10_000) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": [EVENT_TYPES[int(j)] for j in rng.integers(0, 5, n)],
        "value": pa.array(np.round(rng.uniform(0.01, 20.0, n), 2), pa.float64()),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def customer(rng: np.random.Generator, n: int = 1500) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2),
                              pa.float64()),
        "c_mktsegment": [SEGMENTS[int(j)] for j in rng.integers(0, 5, n)],
    })


def embeddings(rng: np.random.Generator, n: int = 500, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


TABLES = {"documents": documents, "events": events, "customer": customer,
          "embeddings": embeddings}


def write_tables(out_dir: str, seed: int) -> None:
    """One ``<name>.parquet`` per table, each from its own seeded stream."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(TABLES.items()):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
