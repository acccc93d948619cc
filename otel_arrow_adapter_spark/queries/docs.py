"""Training-data queries over ``documents``: tokenization, quality,
dedup (exact, MinHash-LSH, SimHash, connected components), sampling and
corpus statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import materialize_scope, owned_result
from ..functions.dedup import (
    dup_clusters,
    dup_spans,
    exact_duplicates,
    incremental_dedup,
    leakage_free_split,
    lsh_candidates,
    lsh_jaccard_pairs,
    minhash_signature,
    ngram_contamination,
    simhash_near_dups,
)
from ..functions.sketches import cms_lookup, count_min_sketch
from ..functions.text import (
    bigram_logprob,
    bm25_topk,
    boilerplate_ngrams,
    bpe_token_count,
    chunk_spans,
    dsir_weights,
    fingerprint,
    lang_id,
    length_histogram,
    normalize_text,
    pack_offsets,
    pii_counts,
    quality_score,
    quantile_filter,
    redact_pii,
    repetition_scores,
    shard_shuffle,
    source_kl_drift,
    source_profile,
    stopword_ratio,
    stratified_sample,
    tfidf_top_terms,
    token_budget_sample,
    token_count,
    tokens,
    unigram_logprob,
)


def _docs_plus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic duplicates: exact copies (doc_id%10==0,
    +100000) and near copies with a token tail (doc_id%7==0, +200000) —
    so dedup operators have something to find."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    exact = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


def q_doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish pre-tokenizer count (letter runs /
    digit runs / single punctuation — the LLM-token estimate) + chars."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_pred"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_docs_plus(spark, sf_dir)).select(
        "fp", "n_docs", F.col("doc_ids").cast("string").alias("doc_ids")
    )


def q_doc_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signature(_docs_plus(spark, sf_dir), num_hashes=4)


def q_doc_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signature(_docs_plus(spark, sf_dir), num_hashes=8)
    return lsh_candidates(sig, num_hashes=8, bands=4)


def q_doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation + exact Jaccard verify — the
    scale path (the all-pairs inverted-index join is quadratic on hot
    shingles; candidates bound it)."""
    return lsh_jaccard_pairs(_docs_plus(spark, sf_dir), threshold=0.5, num_hashes=8, bands=4)


def q_doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup resolution chain: MinHash-LSH candidates -> exact
    Jaccard verify -> CONNECTED COMPONENTS over the verified pairs
    (iterative min-label propagation) -> one cluster id + kept
    representative per doc. Pair finders alone can't drive keep-one-copy:
    A~B and B~C must collapse to one kept doc even when A~C was never
    emitted. Oracle: DuckDB recursive CTE computing min reachable doc_id
    over the symmetric edge closure."""
    with materialize_scope() as m:
        return dup_clusters(m.own(q_doc_jaccard_pairs(spark, sf_dir)))


def q_doc_clean_corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-duplicate cleaning pass a pretraining corpus actually runs
    (doc_clean_corpus catches verbatim copies only; this catches the
    boilerplate/near-copy tail): MinHash-LSH candidates -> exact Jaccard
    verify -> connected components -> drop every cluster member except the
    min-id representative -> quality filter -> per-doc token stats. The
    anti-join against the drop list shuffles on doc_id — O(dup docs), the
    natural scale shape. Oracle: recursive-CTE closure + the shared
    quality/token scoring SQL."""
    with materialize_scope() as m:
        clusters = m.own(q_doc_dup_clusters(spark, sf_dir))
        drop = clusters.where(~F.col("is_rep")).select("doc_id")
        kept = _docs_plus(spark, sf_dir).join(drop, "doc_id", "left_anti")
        scored = kept.select(
            "doc_id",
            token_count(F.col("text")).alias("n_tokens"),
            quality_score(F.col("text")).alias("q"),
        )
        out = scored.where(F.col("q") >= 0.5).select(
            "doc_id", "n_tokens", F.round("q", 6).alias("quality")
        )
        return owned_result(out)


def q_doc_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate: word 3-grams present in >= 5 distinct
    documents (the CCNet/RefinedWeb repeated-chrome target). One explode +
    one map-side-combined groupBy on the gram string — shuffled rows ≈
    distinct grams, never total occurrences."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return boilerplate_ngrams(d, n=3, min_docs=5)


def q_doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition filters at token grain: duplicate
    2-gram fraction + most-frequent-2-gram share, keep = dup fraction
    <= 0.2. Pure array expressions, zero shuffle, zero Python."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_scores(d, n=2)


def _docs_with_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic synthetic PII appended (the testdata
    corpus is PII-free, so the redaction query plants known instances as a
    pure function of doc_id; the oracle replays the identical augmentation
    in SQL). doc_id%5 -> an email, %7 -> a phone, %11 -> an IPv4."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    email = F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com"))
    phone = F.concat(
        F.lit(" call 555-"),
        F.lpad(F.pmod(did * 7, F.lit(1000)).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(F.pmod(did * 31, F.lit(10000)).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit(" from 10."),
        F.pmod(did, F.lit(256)).cast("string"),
        F.lit("."),
        F.pmod(did * 3, F.lit(256)).cast("string"),
        F.lit("."),
        F.pmod(did * 5, F.lit(256)).cast("string"),
    )
    text = F.concat(
        F.col("text"),
        F.when(F.pmod(did, F.lit(5)) == 0, email).otherwise(F.lit("")),
        F.when(F.pmod(did, F.lit(7)) == 0, phone).otherwise(F.lit("")),
        F.when(F.pmod(did, F.lit(11)) == 0, ip).otherwise(F.lit("")),
    )
    return d.select("doc_id", text.alias("text"), "lang")


def q_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (StarCoder-style pre-training pass): mask emails / IPv4s /
    phone numbers with typed placeholders + per-category audit counts.
    Chained JVM-side regexp_replace, zero Python, zero shuffle; the same
    RE2-safe regexes replay verbatim in the DuckDB oracle."""
    d = _docs_with_pii(spark, sf_dir)
    counts = pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ip"].alias("n_ips"),
        redact_pii(F.col("text")).alias("redacted"),
    )


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3 n-gram-overlap protocol, n=8):
    corpus docs sharing any word 8-gram with the eval set. Eval set =
    documents with doc_id%10==0 (so docs_plus's planted exact copies and
    the %70 near-dup tails are guaranteed hits). Broadcast-join shape:
    the fact side never sort-merges."""
    bench = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.pmod(F.col("doc_id"), F.lit(10)) == 0
    )
    return ngram_contamination(_docs_plus(spark, sf_dir), bench, n=8)


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: deterministic md5-hash keep/drop with
    per-language rates (en 50%, de/fr 25%, es/zh 10%) — reproducible
    membership as a pure function of doc_id, a plain pushed-down filter
    (no RNG state, no shuffle, rejected rows never materialize)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1, "zh": 0.1}
    return stratified_sample(d, "lang", rates).select("doc_id", "lang")


def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality proxy (CCNet-style perplexity filter, unigram
    order): mean token log-probability under the corpus's own unigram
    distribution. Vocab build = one map-side-combined groupBy over token
    TYPES; scoring = broadcast join + one doc-grain groupBy. Oracle: the
    identical ln(n_tok/n_total) average in DuckDB."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_logprob(d)


def q_doc_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (pandas-UDF bit-voting signature ->
    16-bit-chunk pigeonhole blocking, never all-pairs). Oracle: DuckDB
    recomputes the md5 bit votes in SQL and takes all pairs with
    bit_count(xor) <= 3 — chunk blocking is LOSSLESS at this distance
    (hamming <= 3 over 4 chunks forces one equal chunk), so the outputs
    must match exactly."""
    return simhash_near_dups(_docs_plus(spark, sf_dir), max_hamming=3)


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def q_doc_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk, the LLM pretraining regime):
    per-doc start offset and first/last training-chunk ids within its
    deterministic md5 shard's concatenated token stream. The running
    offset window partitions by shard — never the whole corpus in one
    task."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_offsets(d, budget=512, n_shards=16)


def q_doc_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data cleaning pass (the shape every corpus runs
    before training): quality filter -> exact-dedup keeping the first
    (min doc_id) copy per fingerprint -> per-doc token stats. ONE shuffle
    total: dedup is groupBy(fp).min(struct(doc_id, ...)) — keep-first as a
    map-side-combined aggregate, no join back."""
    d = _docs_plus(spark, sf_dir)
    scored = d.select(
        "doc_id",
        quality_score(F.col("text")).alias("q"),
        fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    kept = scored.where(F.col("q") >= 0.5)
    agg = kept.groupBy("fp").agg(F.min(F.struct("doc_id", "n_tokens", "q")).alias("s"))
    return agg.select(
        F.col("s.doc_id").alias("doc_id"),
        F.col("s.n_tokens").alias("n_tokens"),
        F.round("s.q", 6).alias("quality"),
    )


def q_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate spans (Lee et al. 2021): maximal token
    runs shared verbatim by >= 2 documents, found by anchoring word
    5-grams and merging overlapping duplicated anchors. Gram filter =
    one map-side-combined groupBy; span merge = per-doc islands window."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dup_spans(d, k=5, min_docs=2)


def q_doc_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val split: LSH -> Jaccard verify -> connected
    components, then every cluster member follows the CLUSTER's md5 draw
    (split key = component min doc id) — near-duplicates can never
    straddle the split boundary. val_frac=0.2."""
    with materialize_scope() as m:
        pairs = m.own(q_doc_jaccard_pairs(spark, sf_dir))
        return leakage_free_split(_docs_plus(spark, sf_dir), pairs, val_frac=0.2)


def q_doc_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture: admit docs per language in deterministic md5
    order until the language's token budget fills (en 6000, de/fr 2000,
    zh 1500; es unbudgeted -> excluded). One cumulative-sum window per
    stratum + a plain filter."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budgets = {"en": 6000, "de": 2000, "fr": 2000, "zh": 1500}
    return token_budget_sample(d, budgets)


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile per language: log2 token-count buckets with
    per-stratum doc shares. One map-side-combined groupBy; the share
    window runs over the tiny aggregate only."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_histogram(d, stratum_col="lang")


def q_doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023) importance weights: per-doc unigram
    log-likelihood ratio of a target-domain model (here: the English
    subset) vs the raw-corpus model, add-0.5 smoothing over the union
    vocabulary. Two type-grain vocab groupBys + one broadcast join +
    one doc-grain groupBy."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_weights(d, d.where(F.col("lang") == "en"), alpha=0.5)


def q_doc_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 tf-idf terms (idf = ln(N/df)): term counts and df
    table are map-side-combined groupBys, df joins back broadcast, top-k
    is one per-doc row_number window ranked on the ROUNDED score with a
    term tie-break (engine-portable determinism)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(d, top_k=3)


def q_doc_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: every doc gets a stable (shard, pos)
    address as a pure function of (seed, doc_id) — md5 shard assignment +
    md5 intra-shard sort key. One hash shuffle + per-shard row_number;
    reproducible across engines and re-runs, reshuffles by changing the
    seed string only."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shard_shuffle(d, n_shards=16, seed="epoch0")


def q_doc_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative quality gate: flag the bottom 20% of docs per language by
    quality score. Thresholds = one stratum-grain exact percentile
    broadcast back; keep flag = codegen'd comparison on the rounded
    threshold (tie decisions identical across engines)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quantile_filter(d, frac=0.2, stratum_col="lang")


def q_doc_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health dashboard over documents + planted exact
    copies (doc_id%10==0, inheriting source/lang): doc count, exact-dup
    rate, mean quality, mean tokens, language spread. One fingerprint
    shuffle + a co-partitioned narrow join + a tiny source rollup."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    plus = d.unionByName(
        d.where(F.col("doc_id") % 10 == 0).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    return source_profile(plus)


def q_doc_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking: 32-token windows advancing by
    24 (8-token overlap), one row per (doc, chunk) with exact token
    offsets. Zero shuffles, zero Python — a codegen'd map-only pass."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_spans(d, chunk_size=32, stride=24)


def q_doc_token_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequencies (Cormode/Muthukrishnan 2005) vs exact:
    4x256 CMS over the token stream, point estimates for the exact top-20
    tokens — (tok, exact_n, cms_n), cms_n >= exact_n by construction.
    Sketch = one map-side-combined groupBy bounded at depth*width cells
    per partition; lookup = broadcast join. Completes the sketch family
    (HLL distinct / DDSketch quantiles / CMS frequencies)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(F.explode(tokens(normalize_text(F.col("text")))).alias("tok"))
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
        .limit(20)
    )
    sketch = count_min_sketch(toks, key_col="tok", depth=4, width=256)
    return top.join(cms_lookup(sketch, top.select("tok"), key_col="tok"), "tok").select(
        "tok", "exact_n", "cms_n"
    )


def q_doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup gate (the daily-increment production
    pattern): index = doc_id%3==0 docs; batch = the rest PLUS planted
    exact copies of index docs (+100000), near-dups of index docs
    (+200000, tail appended) and batch-internal copies (+300000). Each
    batch doc classified exact_dup / batch_dup / near_dup / new —
    fingerprint semi-join, keep-first groupBy, LSH band join vs the index
    + shingle-Jaccard verify. Never pair-quadratic."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    index = d.where(F.col("doc_id") % 3 == 0)
    batch = (
        d.where(F.col("doc_id") % 3 != 0)
        .unionByName(
            d.where(F.col("doc_id") % 9 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.where(F.col("doc_id") % 15 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
            )
        )
        .unionByName(
            d.where((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 7 == 1)).select(
                (F.col("doc_id") + 300000).alias("doc_id"), "text"
            )
        )
    )
    return incremental_dedup(batch, index, threshold=0.7)


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (Lucene idf variant) for query terms
    (spark, join, window): corpus stats and per-term idf are broadcast;
    the tf table is isin-filtered BEFORE any join so post-stats work is
    query-sized; top-k is TakeOrderedAndProject. Scores rounded to 6 so
    both engines rank identically."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(d, query_terms=("spark", "join", "window"), k=20)


def q_doc_source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL(P_source || P_corpus) over unigram distributions —
    the corpus-drift monitor (crawl regressions, template floods). One
    (source, token-type) groupBy, corpus vocab broadcast back."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_kl_drift(d, stratum_col="source")


def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score with Stupid Backoff (Brants et al. 2007),
    the KenLM-shaped perplexity filter: LM trained on the doc_id%10!=0
    reference subset, ALL docs scored — unseen bigrams back off to
    alpha*c(w2)/N, unseen unigrams floor at -20. Unigram counts broadcast
    (Heaps-sublinear types); the bigram score join is a same-key shuffle
    join (broadcast would not hold at open-web scale)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_logprob(d, lm_docs=d.where(F.col("doc_id") % 10 != 0))
