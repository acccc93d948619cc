"""Distributed BPE tokenizer training and application.

The scale insight real BPE trainers exploit (Sennrich et al. 2016; the
HuggingFace trainer does the same): training never touches the corpus
after ONE word-count pass — it iterates on the DISTINCT-WORD table with
frequencies, which is Heaps-sublinear in corpus size. Here that means:

- ``word_counts``: one corpus-scale map-side-combined groupBy.
- ``bpe_train``: n_merges iterations over the word table only — adjacent
  symbol pairs explode from sliced arrays (codegen'd), the weighted pair
  count is another map-side-combined groupBy, and the argmax merge is a
  1-row TakeOrderedAndProject collect (control-plane O(1) per round, like
  the pipeline's per-sink reads). Each round's re-segmented word table is
  materialized and the previous round's freed.
- ``bpe_apply``: Arrow-batched pandas UDF; merges ship in the closure as
  a rank dict, each batch tokenizes once, BPE-encodes only its UNIQUE
  words (memoized), then maps counts back — per-batch cost is bounded by
  distinct words in the batch, not rows.

Ties in pair counts break lexicographically on (a, b) so training is
deterministic across partitionings, engines, and re-runs. Not
SQL-expressible (inherently iterative): gated by a differential pytest
against a sequential reference implementation, like the streaming ops.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import materialize_scope
from .text import token_rows, type_counts


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, n) over the normalized corpus — the single corpus-scale pass
    of BPE training; everything after operates at word-type grain."""
    return type_counts(token_rows(docs, "text"), "n").withColumnRenamed("tok", "word")


def _merge_pair_in_syms(pdf_iter, a: str, b: str):
    """mapInPandas stage: replace every adjacent (a, b) with a+b,
    left-to-right — the BPE re-segmentation step, batch-at-a-time."""
    for pdf in pdf_iter:
        merged = []
        for syms in pdf["syms"]:
            out = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged.append(out)
        pdf = pdf.copy()
        pdf["syms"] = merged
        yield pdf


def bpe_train(
    docs: DataFrame, n_merges: int = 50, min_pair_count: int = 2
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus; returns the
    ranked merge list (the tokenizer artifact, like ``pca_project``'s
    components a driver-side object whose size is independent of corpus
    size). Stops early when no pair reaches ``min_pair_count``."""
    merges: list[tuple[str, str]] = []
    with materialize_scope() as m:
        w = m.keep(
            word_counts(docs)
            # split only BETWEEN characters: not at start, and followed by one
            # (a bare "(?!^)" also matches at end-of-string and appends a
            # corrupting empty symbol)
            .select(F.split(F.col("word"), r"(?!^)(?=.)").alias("syms"), "n")
        )
        for _ in range(n_merges):
            sz = F.size("syms")
            pairs = w.where(sz >= 2).select(
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", 1, sz - 1).alias("a"),
                        F.slice("syms", 2, sz - 1).alias("b"),
                    )
                ).alias("p"),
                "n",
            )
            best = (
                pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["cnt"] < min_pair_count:
                break
            a, b = best[0]["a"], best[0]["b"]
            merges.append((a, b))
            nxt = m.keep(w.mapInPandas(
                lambda it, a=a, b=b: _merge_pair_in_syms(it, a, b),
                "syms array<string>, n long",
            ))
            m.free(w)
            w = nxt
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE apply: repeatedly merge the lowest-rank adjacent pair."""
    syms = list(word)
    while len(syms) >= 2:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize every document with a learned merge list: returns the
    input plus ``n_bpe_tokens`` (the real sequence-length estimate for
    packing/budgeting — ``bpe_token_count``'s regex is the cheap proxy,
    this is the faithful one). One Arrow-batched pandas UDF; within each
    batch only UNIQUE words are encoded (memoized), so cost follows
    batch vocabulary, not row count."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("long")
    def _count(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}

        def doc_tokens(t: str) -> int:
            if not t or not t.strip():
                return 0
            total = 0
            for w in t.strip().lower().split():
                if w not in cache:
                    cache[w] = len(_encode_word(w, ranks))
                total += cache[w]
            return total

        return texts.map(doc_tokens).astype("int64")

    return docs.withColumn("n_bpe_tokens", _count(F.col("text")))
