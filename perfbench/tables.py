"""Seeded synthetic tables for the ``data_pipeline`` workload.

Writes the subset of the test tables (TESTDATA.md) that the benchmark's
registry queries read (documents, embeddings, events) with the same
schemas and value distributions as their sf0.01 tier: a 31-word document
vocabulary with 5% near-duplicates and 1% exact duplicates, unit-norm
64-d embeddings, and a time-ordered 30-day event stream.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["documents", "embeddings", "events"]

# Row counts of the sf0.01 test tables.
N_DOCS = 500
N_VECS = 500
N_EVENTS = 10_000
N_USERS = 150

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator) -> dict:
    texts = []
    for _ in range(N_DOCS):
        n = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(_VOCAB, size=n)))
    # Near-duplicates: another document's text plus one marker token;
    # exact duplicates: another document's text verbatim.
    for i in rng.choice(N_DOCS, size=N_DOCS // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    for i in rng.choice(N_DOCS, size=N_DOCS // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, N_DOCS))]
    ids = np.arange(N_DOCS, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, size=N_DOCS, p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table for ``seed`` under ``out_dir``; returns row
    counts. The same seed gives the same rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "documents", _documents(rng))
    vecs = rng.standard_normal((N_VECS, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    })
    gaps = rng.exponential(30 * 86400 / N_EVENTS, N_EVENTS).cumsum()
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (gaps * 1e6).astype(
        "timedelta64[us]"
    )
    _write(out_dir, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, N_EVENTS).tolist(),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    return {
        "documents": N_DOCS, "embeddings": N_VECS, "events": N_EVENTS,
    }
