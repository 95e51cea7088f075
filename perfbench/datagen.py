"""Seeded input tables for the ``queries`` workload.

The engine's query surface reads fixture tables from a directory of
``<table>.parquet`` files. The benchmark cannot rely on a fixture directory
outside its checkout, so it writes its own, shaped like the engine's
fixtures, from the run's seed:

- ``documents``: texts drawn from a 30-word vocabulary, 10..99 tokens each;
  5% of documents copy an earlier text and append `` dup`` (the near-
  duplicates the MinHash/CC dedup path finds); ``source`` is
  ``src{doc_id % 20}``; ``lang`` is 40% ``en`` and 15% each of four others;
- ``events``: a time-ordered stream over 30 days from 2024-01-01 with
  exponential gaps, stored as parquet ``timestamp[us]``; users uniform,
  five event types, ``value`` exponential with mean 50 rounded to cents;
- ``embeddings``: unit-norm float32 vectors (64 dims) with labels 0..9.

The same seed always gives byte-identical parquet files.
"""

from __future__ import annotations

import os

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
TABLES = ("documents", "events", "embeddings")

# Sizes: the engine's per-query cost at these shapes is dominated by fixed
# per-job overhead (planning, codegen, scheduling), which is what the
# workload measures; bigger tables only lengthen every run, above all the
# DuckDB oracles of the output checks (the dedup_clusters oracle runs
# MinHash and connected components in SQL).
N_DOCS = 250
N_EVENTS = 2000
N_USERS = 30
N_VECS = 500
DIMS = 64
DUP_FRAC = 0.05


def _documents(rng):
    import numpy as np
    import pyarrow as pa

    texts = []
    for _ in range(N_DOCS):
        n = int(rng.integers(10, 100))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n)))
    n_dup = int(N_DOCS * DUP_FRAC)
    for i in rng.choice(np.arange(1, N_DOCS), n_dup, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = rng.choice(len(LANGS), N_DOCS, p=LANG_P)
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in langs],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _events(rng):
    import numpy as np
    import pyarrow as pa

    gaps_us = rng.exponential(30 * 86400e6 / N_EVENTS, N_EVENTS)
    # strictly increasing microsecond timestamps (no ties: the as-of joins
    # order by ts with event_id as the tiebreak, but distinct ts keeps the
    # stream shaped like the engine's fixtures)
    ts = 1704067200_000000 + np.cumsum(np.floor(gaps_us).astype(np.int64) + 1)
    return pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def _embeddings(rng):
    import numpy as np
    import pyarrow as pa

    v = rng.standard_normal((N_VECS, DIMS))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, N_VECS).astype(np.int32),
        }
    )


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write documents/events/embeddings parquet for ``seed``; return the
    row count of each table."""
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, (name, make) in enumerate(zip(TABLES, (_documents, _events, _embeddings))):
        # one independent stream per table, so resizing one table leaves the
        # others' contents unchanged
        table = make(np.random.default_rng([seed, i]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
