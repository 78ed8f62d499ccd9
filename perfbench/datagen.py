"""Seeded synthetic inputs for the benchmark.

``write_documents`` writes the ``documents`` table both workloads read,
with the schema and value domains of the repository's test data: 5-30
words each from a 30-word vocabulary, with near-duplicates (an earlier
document plus the word ``dup``) and a few exact duplicates.

Everything is drawn from one ``numpy`` generator seeded by the caller, so
the same seed writes byte-identical values. Sizes depend only on the
arguments, never on the seed, so every seed costs about the same work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")


def doc_text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def documents(rng, n: int, first_id: int = 0) -> dict:
    """Column dict of ``n`` documents with ids from ``first_id``: 5-30
    vocabulary words each; 5% are an earlier document of the same batch
    plus " dup" (near-duplicates) and 0.2% repeat one verbatim."""
    texts = [doc_text(rng, int(k)) for k in rng.integers(5, 31, n)]
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif u < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return {
        "doc_id": list(range(first_id, first_id + n)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": [len(t) for t in texts],
    }


def write_documents(out_dir: str, seed: int, n: int) -> str:
    """Write ``n`` documents to ``<out_dir>/documents.parquet``; return
    the path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(pa.table(documents(np.random.default_rng(seed), n)), path)
    return path
