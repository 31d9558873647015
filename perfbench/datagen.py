"""Seeded synthetic inputs for the benchmark.

The tables mirror the schemas of the engine's fixture tables
(``documents``, ``embeddings``, ``events``; see FIXTURES.md) so the
declared queries and their DuckDB oracles run on them unchanged. Values
are drawn from the same shapes as the fixtures: word-soup documents
over a 30-word vocabulary with 5% near-duplicates (``... dup``),
unit-norm 64-d float embeddings, and a month of events. The same seed
gives byte-identical tables.
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
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EMBED_DIM = 64
TS0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def events(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """``n`` events with ids ``first_id .. first_id+n-1``."""
    ts = TS0_US + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, n // 66), n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int, n_events: int) -> None:
    """Write ``documents``, ``embeddings`` and ``events`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
    pq.write_table(events(rng, n_events), os.path.join(out_dir, "events.parquet"))
