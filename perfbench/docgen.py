"""Seeded ``documents`` table for the dedup workload.

Same schema and shape as the repository's test documents (doc_id, text,
lang, source, n_chars; 10-100 words drawn from a 30-word vocabulary),
generated here because the benchmark reads nothing outside its
checkout. Every 20th document is a near copy of the one 19 places
earlier with one word replaced by ``dup``, so the corpus has duplicate
clusters of its own on top of the copies the dedup queries plant. Lengths
and copy positions are fixed and only the words come from the seed, so
the corpus size barely moves from seed to seed.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (40, 15, 15, 15, 15)
NEAR_COPY_EVERY = 20


def synthesize_documents(n_docs: int, seed: int) -> pa.Table:
    rng = random.Random(seed)
    texts: list[str] = []
    for doc_id in range(n_docs):
        if doc_id % NEAR_COPY_EVERY == NEAR_COPY_EVERY - 1:
            words = texts[doc_id - NEAR_COPY_EVERY + 1].split(" ")
            words[rng.randrange(len(words))] = "dup"
        else:
            words = rng.choices(VOCAB, k=10 + doc_id * 37 % 91)
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(path: str, n_docs: int, seed: int) -> None:
    # uncompressed: a codec's ratio on random word sequences moves the
    # file size (the dedup workload's bytes_per_row) by ~3% between seeds
    pq.write_table(synthesize_documents(n_docs, seed), path, compression="none")
