"""Schema pins for the term-statistics, md5-draw and shingler outputs: the
exact ``schema.json()`` (names, types, field order, nullability) of every
public function built on the shared token rows, type-grain counts, md5
draw and window k-grams cores, on a small in-test corpus.

The pins in ``term_stats_schema_pins.json`` are the schemas these frames
had when each function still spelled out its own token stream, vocabulary,
md5 draw and shingler; the shared cores must reproduce every one of them.
The dedup chain's owned results (``lsh_candidates``, both ``jaccard_pairs``
paths, ``lsh_jaccard_pairs``, ``incremental_dedup``, ``dup_clusters`` and
``leakage_free_split``) materialize, so a few small jobs run; the rest is
analysis only."""

import json
import os

from otel_arrow_adapter_spark.functions import bpe, dedup, sketches, text

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "term_stats_schema_pins.json")

TEXTS = [
    "the spark join plan is a window over the join",
    "a window of the spark plan",
    "the spark join plan is a window over the join",
    "short",
    "",
    "join the window and plan the spark shuffle join",
]


def _frames(spark):
    docs = spark.createDataFrame(
        [(i, t, ("web", "code")[i % 2], ("en", "de")[i % 2]) for i, t in enumerate(TEXTS)],
        "doc_id long, text string, source string, lang string",
    )
    pairs = spark.createDataFrame([(0, 2), (2, 5)], "doc_a long, doc_b long")
    sized = docs.select("doc_id", text.token_count(docs.text).alias("n_tokens"))
    keys = docs.select(docs.text.alias("key"))
    sketch = sketches.count_min_sketch(keys)
    return {
        "unigram_logprob": lambda: text.unigram_logprob(docs),
        "unigram_logprob_max_vocab": lambda: text.unigram_logprob(docs, max_vocab=3),
        "bigram_logprob": lambda: text.bigram_logprob(docs, lm_docs=docs.where("doc_id > 0")),
        "bm25_topk": lambda: text.bm25_topk(docs, ("spark", "join")),
        "source_kl_drift": lambda: text.source_kl_drift(docs),
        "dsir_weights": lambda: text.dsir_weights(docs, docs.where("lang = 'en'")),
        "tfidf_top_terms": lambda: text.tfidf_top_terms(docs),
        "boilerplate_ngrams": lambda: text.boilerplate_ngrams(docs, min_docs=2),
        "stratified_sample": lambda: text.stratified_sample(docs, "lang", {"en": 0.5}),
        "shard_shuffle": lambda: text.shard_shuffle(docs),
        "pack_offsets": lambda: text.pack_offsets(sized),
        "word_counts": lambda: bpe.word_counts(docs),
        "count_min_sketch": lambda: sketch,
        "cms_lookup": lambda: sketches.cms_lookup(sketch, keys),
        "doc_shingles": lambda: dedup.doc_shingles(docs),
        "doc_shingles_all": lambda: dedup.doc_shingles(docs, distinct=False),
        "dup_spans": lambda: dedup.dup_spans(docs, k=3),
        "ngram_contamination": lambda: dedup.ngram_contamination(docs, docs.where("doc_id = 1"), n=3),
        "minhash_signature": lambda: dedup.minhash_signature(docs),
        "lsh_candidates": lambda: dedup.lsh_candidates(dedup.minhash_signature(docs)),
        "jaccard_pairs": lambda: dedup.jaccard_pairs(docs, threshold=0.3),
        "jaccard_pairs_candidates": lambda: dedup.jaccard_pairs(docs, threshold=0.3, candidates=pairs),
        "lsh_jaccard_pairs": lambda: dedup.lsh_jaccard_pairs(docs, threshold=0.3),
        "incremental_dedup": lambda: dedup.incremental_dedup(
            docs.where("doc_id > 1"), docs.where("doc_id <= 1")
        ),
        "dup_clusters": lambda: dedup.dup_clusters(pairs),
        "leakage_free_split": lambda: dedup.leakage_free_split(docs, pairs),
    }


def schemas(spark) -> dict[str, str]:
    out = {}
    for name, build in _frames(spark).items():
        df = build()
        out[name] = df.schema.json()
        if hasattr(df, "pre_checkpoint"):
            df.unpersist()
    return out


def test_term_stats_schemas_pinned(spark):
    with open(PINS, encoding="utf-8") as f:
        pins = json.load(f)
    got = schemas(spark)
    assert sorted(got) == sorted(pins)
    for name, schema in pins.items():
        assert got[name] == schema, name
