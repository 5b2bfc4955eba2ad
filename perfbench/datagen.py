"""Seeded generator for the benchmark's parquet inputs.

``documents`` and ``embeddings`` have the schemas and value ranges of
the engine's test data (a text corpus over a 31-word vocabulary, and
64-d unit vectors with a 0-9 label), so the registered queries and their
DuckDB oracles run on them unchanged.  The same seed always writes the
same rows.

Documents differ from the test data in one deliberate way: a share of
them are exact or near copies of earlier ones, so the dedup operators
find real repeats instead of an empty pair set.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.5, 0.125, 0.125, 0.125, 0.125)
EMBED_DIM = 64


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    docs: list[str] = []
    for i in range(n_docs):
        roll = rng.random()
        if i >= 10 and roll < 0.03:
            docs.append(docs[int(rng.integers(0, i))])  # exact copy
            continue
        if i >= 10 and roll < 0.10:
            words = docs[int(rng.integers(0, i))].split(" ")
            for _ in range(1 + len(words) // 20):  # near copy
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
            docs.append(" ".join(words))
            continue
        n_words = int(rng.integers(10, 100))
        docs.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(docs),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(d) for d in docs], dtype=np.int64)),
    })


def embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })


def generate(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` for
    ``seed`` into ``out_dir``; each table draws from its own stream."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": documents(np.random.default_rng([seed, 0]), n_docs),
        "embeddings": embeddings(np.random.default_rng([seed, 1]), n_vecs),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
