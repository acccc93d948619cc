"""Text-analysis operators for training-data pipelines over ``documents``.

All hot-path functions are native column expressions (whole-stage codegen,
no Python) and have exact DuckDB-SQL oracles. Heuristics are deliberately
simple + deterministic: the operator surface (tokenize, quality-score,
language-ID, fingerprint) is what matters, not linguistic accuracy.

Shared cores. The corpus-statistics operators (the unigram/bigram LMs,
BM25, KL drift, DSIR, tf-idf, BPE word counts, the count-min query) build
on three pieces written once here: ``token_rows`` (the ``(keys…, tok)``
rows of the normalized text), ``type_counts`` (a row count per
``(by…, tok)``: token TYPES, Heaps-sublinear) and ``with_total`` (a
frame crossJoined with the broadcast sum of a count column). The md5
bucket draw behind sampling, sharding and packing is
``datagen.seeds.md5_bucket``; the window k-gram shingler is
``dedup.window_kgrams``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..datagen.seeds import md5_bucket
from ..operators.normalize import top_k

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# tiny per-language stopword profiles for the n-gram/stopword language-ID
LANG_PROFILES = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "y", "una"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty text -> empty array."""
    return F.when(F.length(F.trim(text)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


# BPE-ish pre-tokenizer classes (the GPT-2 pre-tokenizer's shape without
# the merges): letter runs, digit runs, and single punctuation marks each
# count as one token — a much closer LLM-token estimate than whitespace
# splitting ("don't!" = 4, not 1). Pure regexp count: JVM-side, and the
# same pattern runs verbatim in DuckDB for the oracle.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Subword-ish token estimate via the BPE pre-tokenizer classes."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0))).cast("long")


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters outside [a-z0-9 ] (lower-cased)."""
    low = F.lower(text)
    stripped = F.regexp_replace(low, "[^a-z0-9 ]", "")
    return F.when(
        F.length(low) > 0, (F.length(low) - F.length(stripped)) / F.length(low)
    ).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality: long enough, low punctuation noise,
    plausible stopword density — the usual pretraining-corpus filters."""
    n = token_count(text)
    len_score = F.least(n / F.lit(50.0), F.lit(1.0))
    sw = stopword_ratio(text)
    sw_score = F.when((sw > 0.01) & (sw < 0.6), F.lit(1.0)).otherwise(F.lit(0.3))
    punct_score = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    return F.round((len_score * 0.4 + sw_score * 0.3 + punct_score * 0.3), 6)


def lang_id(text: Column) -> Column:
    """Stopword-profile language ID: argmax of per-language hit counts,
    'und' (undetermined) when no profile matches."""
    toks = tokens(F.lower(text))
    def hits(words):
        # bind `words` via closure returning a 1-arg lambda (PySpark treats
        # a 2-arg lambda as (element, index))
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = [(lang, hits(words)) for lang, words in LANG_PROFILES.items()]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reverse order so earlier profiles win ties (deterministic)
    for lang, s in reversed(scores):
        out = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(out)
    return out


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lower, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (content identity
    for exact dedup; cheap and oracle-identical in DuckDB)."""
    return F.md5(normalize_text(text))


def token_rows(docs: DataFrame, text_col: str, *keys: str | Column) -> DataFrame:
    """(keys…, tok): one row per whitespace token of the normalized text.
    The explode is narrow, so a document's tokens stay in its input
    partition and any per-document groupBy combines map-side."""
    return docs.select(*keys, F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok"))


def type_counts(rows: DataFrame, name: str, *by: str) -> DataFrame:
    """(by…, tok, ``name``): the row count per (by…, tok) — one
    map-side-combined groupBy whose output is token TYPES (Heaps' law:
    sublinear in corpus size)."""
    return rows.groupBy(*by, "tok").agg(F.count(F.lit(1)).alias(name))


def with_total(df: DataFrame, counts: DataFrame, col: str, total: str) -> DataFrame:
    """``df`` crossJoined with the one-row ``sum(counts.col) AS total``,
    broadcast. ``counts`` need not be ``df``: a head-capped vocabulary
    takes its total from the full one."""
    return df.crossJoin(F.broadcast(counts.agg(F.sum(col).alias(total))))


def ngram_array(text: Column, n: int = 3) -> Column:
    """Positional (non-distinct) word n-grams over the normalized text.

    Every occurrence is kept — repetition analysis needs multiplicity.
    Documents shorter than ``n`` tokens yield an empty array (guarded:
    ``F.sequence(1, 0)`` would descend)."""
    toks = tokens(normalize_text(text))
    cnt = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), cnt - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))


def boilerplate_ngrams(docs: DataFrame, n: int = 3, min_docs: int = 5) -> DataFrame:
    """Corpus-level boilerplate detection: word n-grams appearing in at
    least ``min_docs`` DISTINCT documents (headers, footers, license
    blurbs, navigation chrome — the CCNet/RefinedWeb cleaning target).

    Scale shape: n-grams come from the codegen'd posexplode + window
    shingler (multiplicity-preserving mode) — NOT the interpreted
    ``ngram_array`` transform lambda, which measured 33 s vs ~3 s at
    sf0.1 for this query. Then one groupBy on the n-gram string —
    partial (map-side) aggregation collapses each partition's repeats
    before the shuffle, so shuffled rows ≈ distinct n-grams per partition,
    not total occurrences. n-gram keys are near-uniform (no skew salt
    needed); count(DISTINCT doc_id) plans as a two-phase expand+partial
    aggregate, never a per-key set collect. Returns
    (ngram, n_docs, n_occurrences)."""
    from .dedup import doc_shingles  # function-level: dedup imports from text

    grams = doc_shingles(docs, k=n, distinct=False).select(
        "doc_id", F.col("shingle").alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def repetition_scores(docs: DataFrame, n: int = 2) -> DataFrame:
    """Per-document repetition quality signals (the Gopher repetition
    filters, Rae et al. 2021 table A1, re-expressed at token grain):
    fraction of n-gram occurrences that are duplicates of an earlier one,
    and the share held by the single most frequent n-gram. ``keep`` is the
    standard dup-fraction <= 0.2 gate.

    Pure array expressions per row (whole-stage codegen, zero Python,
    zero shuffle): dup fraction = 1 - distinct/total; the top-gram share
    is an O(distinct x total) nested array scan — bounded by document
    length, embarrassingly parallel, no corpus-wide state."""
    grams = ngram_array(F.col("text"), n)
    total = F.size(grams)
    uniq = F.array_distinct(grams)
    frac_dup = F.when(
        total > 0, (total - F.size(uniq)) / total.cast("double")
    ).otherwise(F.lit(0.0))
    per_gram = F.transform(uniq, lambda g: F.size(F.filter(grams, lambda x: x == g)))
    top_frac = F.when(
        total > 0, F.array_max(per_gram) / total.cast("double")
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        total.cast("long").alias("n_grams"),
        F.round(frac_dup, 6).alias("frac_dup_ngrams"),
        F.round(top_frac, 6).alias("top_ngram_frac"),
        (frac_dup <= 0.2).alias("keep"),
    )


# PII patterns, applied in this order (email first so its local-part digits
# never feed the numeric patterns). Deliberately RE2-safe (no backreferences
# or lookaround) so the DuckDB oracle runs the SAME pattern verbatim; Java
# and RE2 agree on leftmost+greedy matching for this grammar.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Mask emails / IPv4 addresses / US-style phone numbers with typed
    placeholder tokens — the standard pre-training scrub (e.g. BigCode's
    StarCoder PII pass). Pure chained ``regexp_replace``: JVM-side,
    whole-stage codegen, zero Python, and the identical regexes replay in
    DuckDB for the oracle. Order is PII_PATTERNS order (emails may contain
    digit runs; the numeric patterns see the already-masked string)."""
    out = text
    for _, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category match counts on the ORIGINAL text (audit signal —
    how much PII a source emits, independent of masking order)."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0))).cast("long")
        for name, pattern, _ in PII_PATTERNS
    }


def stratified_sample(df: DataFrame, stratum_col: str, rates: dict[str, float]) -> DataFrame:
    """Deterministic per-stratum downsampling — the domain-mixture knob of
    a pretraining pipeline (e.g. keep 50% of web text, 10% of low-resource
    scrapes). Membership is a pure function of the row id: keep when
    ``md5(doc_id)[0:12] as uint48 mod 10000 < rate*10000``. No RNG state,
    no driver coordination, reproducible across engines and re-runs, and a
    plain filter — pushes below any downstream shuffle, never materializes
    the rejected rows. Resolution is 1/10000; strata without a rate are
    dropped."""
    u = md5_bucket(F.col("doc_id"), 10000)
    rate = F.lit(0.0)
    for key, val in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == key, F.lit(float(val))).otherwise(rate)
    return df.where(u < F.floor(rate * 10000).cast("long"))


def token_budget_sample(docs: DataFrame, budgets: dict[str, int]) -> DataFrame:
    """Token-budget mixture construction — the "N tokens of web, M of
    code" step of a pretraining mixture recipe: admit documents per
    stratum in a deterministic md5 order until the stratum's token budget
    is exhausted. A doc is admitted iff the running token total of
    earlier-ordered docs in its stratum is < budget (the budget may
    overshoot by at most the final admitted doc — the standard
    convention). The stratum is ``lang``; strata without a budget
    contribute nothing.

    Shape: one cumulative-sum window per stratum ordered by the md5 draw
    (strata are few, each window is a single partition chain at stratum
    grain — at open-web scale sub-shard the stratum by a second hash and
    pre-aggregate shard totals, the pack_offsets discipline), then a
    plain filter. No RNG state; byte-identical selection across engines
    and re-runs. Returns (doc_id, stratum, n_tokens, prior_tokens)."""
    from pyspark.sql import Window

    base = docs.select(
        F.col("doc_id"),
        F.col("lang").alias("stratum"),
        token_count(F.col("text")).alias("n_tokens"),
        F.md5(F.concat(F.lit("mix0:"), F.col("doc_id").cast("string"))).alias("draw"),
    )
    w = Window.partitionBy("stratum").orderBy("draw", "doc_id")
    prior = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    ).cast("long")
    budget = F.lit(0)
    for key, val in sorted(budgets.items()):
        budget = F.when(F.col("stratum") == key, F.lit(int(val))).otherwise(budget)
    return (
        base.withColumn("prior_tokens", prior)
        .where(F.col("prior_tokens") < budget)
        .select("doc_id", "stratum", "n_tokens", "prior_tokens")
    )


def shard_shuffle(docs: DataFrame, n_shards: int = 16, seed: str = "epoch0") -> DataFrame:
    """Deterministic corpus shard + intra-shard shuffle — the epoch
    reshuffle primitive of a pretraining data loader. Every document gets
    a stable (shard, pos) address that is a pure function of (seed, id):
    two runs (or two engines) materialize byte-identical epochs, and a
    new seed string is a full reshuffle with zero carried state.

    Shape: shard = md5-uint48(id) % n_shards — one hash-partition
    shuffle; pos = row_number over the shard ordered by md5("seed:id") —
    the only ordering cost is per-shard, and shards are sized to one
    writer task (at 10^12 docs pick n_shards ≈ desired output-file
    count). No RNG state, no driver coordination, no global sort."""
    from pyspark.sql import Window

    shard = md5_bucket(F.col("doc_id"), n_shards).cast("int")
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return (
        docs.select(F.col("doc_id"), shard.alias("shard"), key.alias("sort_key"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def pack_offsets(docs: DataFrame, budget: int = 512, n_shards: int = 16) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    regime: documents are concatenated in a deterministic order and cut
    every ``budget`` tokens. Output per document: its byte-stream shard,
    start offset in the shard's concatenated token stream, and the first/
    last chunk (training sequence) ids it lands in.

    Distribution: each shard is an independent stream (deterministic md5
    shard of doc_id, engine-portable), so the running-offset window
    partitions by shard — state never funnels the whole corpus through
    one task; at 10^12 docs pick n_shards ~ cluster cores x 4. The chunk
    ids are shard-local; (shard << 32 | chunk) globalizes them."""
    from pyspark.sql import Window

    shard = md5_bucket(F.col("doc_id"), n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy("doc_id")
    sharded = docs.withColumn("shard", shard)
    start = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    ).cast("long")
    out = sharded.withColumn("start_off", start)
    end = F.col("start_off") + F.col("n_tokens")
    return out.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_off",
        F.floor(F.col("start_off") / budget).cast("long").alias("first_chunk"),
        # empty docs occupy no chunk span: last = first
        F.when(
            F.col("n_tokens") > 0, F.floor((end - 1) / budget)
        ).otherwise(F.floor(F.col("start_off") / budget)).cast("long").alias("last_chunk"),
    )


def unigram_logprob(
    docs: DataFrame, max_vocab: int | None = None, oov_logprob: float = -20.0
) -> DataFrame:
    """Corpus-LM quality proxy — the CCNet/Gopher perplexity filter at
    unigram order: score each document by the mean log-probability of its
    tokens under the corpus's own unigram distribution (gibberish and
    boilerplate-free rare-token walls score low; docs of common tokens
    score high). Returns (doc_id, n_tokens, mean_logprob).

    Scale shape: the vocabulary build is one map-side-combined groupBy
    whose output is token TYPES (Heaps' law: sublinear in corpus size);
    scoring is a broadcast join + one groupBy(doc_id) whose partial
    aggregation collapses each document inside its input partition
    (explode is narrow, so a doc's tokens never cross partitions before
    the combine). At open-web scale cap the broadcast with ``max_vocab``
    (top-K types by count, ties broken by token for determinism); tokens
    outside it score ``oov_logprob`` — the standard head-vocab + OOV
    bucket approximation.
    """
    toks = token_rows(docs, "text", "doc_id")
    vocab = type_counts(toks, "n_tok")
    head = vocab if max_vocab is None else vocab.orderBy(F.desc("n_tok"), "tok").limit(max_vocab)
    vocab = with_total(head, vocab, "n_tok", "n_total")
    logp = F.log(F.col("n_tok").cast("double") / F.col("n_total").cast("double"))
    scored = toks.join(F.broadcast(vocab), "tok", "left")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.coalesce(logp, F.lit(float(oov_logprob)))), 6).alias(
            "mean_logprob"
        ),
    )


def bigram_logprob(docs: DataFrame, lm_docs: DataFrame | None = None) -> DataFrame:
    """Bigram-LM quality scoring with Stupid Backoff (Brants et al. 2007)
    — the KenLM-shaped upgrade of :func:`unigram_logprob`: score each
    document by the mean log-score of its adjacent token pairs under a
    reference corpus LM, S(w2|w1) = c(w1 w2)/c(w1) when the bigram was
    seen, else 0.4 * c(w2)/N (the backoff weight), else -20 (the OOV
    log-score, as in :func:`unigram_logprob`). Train on ``lm_docs``
    (default: the scored corpus itself) — pass a held-out/reference subset
    so the backoff path actually fires, the production quality-filter
    setup. Returns (doc_id, n_bigrams, mean_logprob) for docs with >= 2
    tokens.

    Scale shape: bigram extraction is slice+zip_with+explode — narrow,
    codegen'd, no Python. Unigram counts are token TYPES (Heaps-sublinear)
    and BROADCAST twice (w1 denominator, w2 backoff). Bigram counts are
    bigram TYPES — too big to broadcast at open-web scale, so the score
    join is a plain shuffle join on (w1, w2): both sides hash-partition on
    the same key, AQE handles the skewed head ("of the"). Per-doc
    aggregation is map-side-combined (a doc's bigrams start
    co-partitioned; the explode is narrow)."""
    def bigrams(frame: DataFrame) -> DataFrame:
        t = tokens(normalize_text(F.col("text")))
        base = frame.select("doc_id", t.alias("_t")).where(F.size("_t") >= 2)
        pairs = F.zip_with(
            F.slice("_t", 1, F.size("_t") - 1),
            F.slice("_t", 2, F.size("_t") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        return base.select("doc_id", F.explode(pairs).alias("bg")).select(
            "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
        )

    lm = lm_docs if lm_docs is not None else docs
    uni = type_counts(token_rows(lm, "text"), "c_uni")
    bi = bigrams(lm).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bi"))

    scored = with_total(
        bigrams(docs)
        .join(bi, ["w1", "w2"], "left")
        .join(F.broadcast(uni.select(F.col("tok").alias("w1"), F.col("c_uni").alias("c1"))), "w1", "left")
        .join(F.broadcast(uni.select(F.col("tok").alias("w2"), F.col("c_uni").alias("c2"))), "w2", "left"),
        uni,
        "c_uni",
        "n_total",
    )
    logp = (
        F.when(
            F.col("c_bi").isNotNull(),
            F.log(F.col("c_bi").cast("double") / F.col("c1").cast("double")),
        )
        .when(
            F.col("c2").isNotNull(),
            F.log(F.lit(0.4) * F.col("c2").cast("double") / F.col("n_total").cast("double")),
        )
        .otherwise(F.lit(-20.0))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(logp), 6).alias("mean_logprob"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 20,
) -> DataFrame:
    """BM25 keyword retrieval (Robertson/Spärck Jones; Lucene's idf
    variant ln((N-df+0.5)/(df+0.5)+1) and its k1 = 1.2, b = 0.75
    defaults): top-k documents for a bag of
    query terms — the corpus-side retrieval primitive (eval-set mining,
    targeted curation, "find me docs about X" over a training corpus).

    Scale shape: doc lengths and term frequencies are map-side-combined
    groupBys over the exploded tokens (a doc's tokens start
    co-partitioned — the explode is narrow). The tf table is filtered to
    the query's terms FIRST (a pushed isin over the token stream), so
    everything after the corpus-stats pass is query-sized. Corpus stats
    (N, avgdl) and per-term df/idf are O(1)/O(|q|) rows, broadcast. The
    tf-to-doclen join keys both sides on doc_id. Returns (doc_id, bm25,
    rank) with the score rounded to 6 so both engines rank identically."""
    toks = token_rows(docs, "text", "doc_id")
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = type_counts(toks.where(F.col("tok").isin(*query_terms)), "tf", "doc_id")
    df_t = type_counts(tf, "df")
    idf = df_t.crossJoin(F.broadcast(stats)).select(
        "tok",
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
        "avgdl",
    )
    k1, b = 1.2, 0.75
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(doclen, "doc_id")
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
    )
    return top_k(scored, "bm25", "doc_id", k)


def source_kl_drift(docs: DataFrame, stratum_col: str = "source") -> DataFrame:
    """Per-stratum distribution drift: KL(P_stratum || P_corpus) over the
    unigram token distributions — the corpus-monitoring number that flags
    a source whose content mix diverged from the blend (crawl gone wrong,
    template flood, language shift). KL is exact, not sampled:
    Σ_t p_s(t)·ln(p_s(t)/p(t)); every stratum token is in the corpus by
    construction, so the ratio is always finite.

    Scale shape: one (stratum, token-type) groupBy (map-side-combined;
    output is |strata| x Heaps-sublinear types), the corpus vocab derived
    from it by a second tiny groupBy, joined back BROADCAST on tok.
    Returns (stratum, n_tokens, kl) rounded to 6."""
    st = type_counts(
        token_rows(docs, "text", F.col(stratum_col).alias("stratum")), "c_st", "stratum"
    )
    corpus = st.groupBy("tok").agg(F.sum("c_st").alias("c_all"))
    totals = st.groupBy("stratum").agg(F.sum("c_st").alias("n_st"))
    joined = with_total(
        st.join(F.broadcast(corpus), "tok").join(F.broadcast(totals), "stratum"),
        corpus,
        "c_all",
        "n_all",
    )
    p_s = F.col("c_st").cast("double") / F.col("n_st").cast("double")
    p = F.col("c_all").cast("double") / F.col("n_all").cast("double")
    return (
        joined.groupBy("stratum")
        .agg(
            F.max("n_st").alias("n_tokens"),
            F.round(F.sum(p_s * F.log(p_s / p)), 6).alias("kl"),
        )
    )


def length_histogram(docs: DataFrame, stratum_col: str = "lang") -> DataFrame:
    """Corpus length profile — the token-count distribution every dataset
    card reports, per stratum: docs bucketed by floor(log2(n_tokens + 1))
    (log-spaced, so the 10-token and 10k-token regimes are both visible).
    Returns (stratum, bucket, n_docs, total_tokens, doc_share) where
    doc_share is the bucket's fraction of its stratum's documents.

    Shape: one map-side-combined groupBy on (stratum, bucket) — shuffled
    rows ≈ strata × ~40 buckets regardless of corpus size; the share
    window runs over that already-tiny aggregate, never over facts."""
    from pyspark.sql import Window

    n_tok = token_count(F.col("text"))
    bucket = F.floor(F.log2(n_tok + 1)).cast("long")
    agg = (
        docs.select(F.col(stratum_col).alias("stratum"), bucket.alias("bucket"), n_tok.alias("n_tokens"))
        .groupBy("stratum", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
    )
    w = Window.partitionBy("stratum")
    return agg.select(
        "stratum",
        "bucket",
        "n_docs",
        "total_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("doc_share"),
    )


def dsir_weights(docs: DataFrame, target: DataFrame, alpha: float = 0.5) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by the log likelihood ratio of its tokens under a target-domain
    unigram model vs the raw-corpus unigram model,
    ``log w(x) = Σ_tok [log p_target(tok) − log p_raw(tok)]`` — documents
    resembling the target domain score high; resampling proportional to
    the weights yields the DSIR-selected corpus. The paper hashes n-gram
    features; at unigram order the feature IS the token, which keeps the
    operator exactly SQL-replayable. Add-``alpha`` smoothing over the
    union vocabulary keeps both models finite everywhere.

    Shape at 100 TB: two map-side-combined vocab groupBys whose outputs
    are token TYPES (Heaps-sublinear), one full-outer type-grain merge,
    one broadcast join onto the exploded raw corpus, one
    groupBy(doc_id) with partial aggregation — the same scale story as
    :func:`unigram_logprob` (cap types with a head vocab there if the
    broadcast outgrows executors).

    Returns (doc_id, n_tokens, log_weight)."""
    raw_toks = token_rows(docs, "text", "doc_id")
    raw_vocab = type_counts(raw_toks, "n_raw")
    tgt_vocab = type_counts(token_rows(target, "text"), "n_tgt")
    merged = raw_vocab.join(tgt_vocab, "tok", "full_outer").select(
        "tok",
        F.coalesce("n_raw", F.lit(0)).alias("n_raw"),
        F.coalesce("n_tgt", F.lit(0)).alias("n_tgt"),
    )
    totals = merged.agg(
        F.sum("n_raw").alias("t_raw"),
        F.sum("n_tgt").alias("t_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    a = F.lit(float(alpha))
    llr = F.log((F.col("n_tgt") + a) / (F.col("t_tgt") + a * F.col("v"))) - F.log(
        (F.col("n_raw") + a) / (F.col("t_raw") + a * F.col("v"))
    )
    vocab = merged.crossJoin(F.broadcast(totals)).select("tok", llr.alias("llr"))
    return (
        raw_toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("llr"), 6).alias("log_weight"),
        )
    )


def tfidf_top_terms(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """Per-document top-k terms by tf-idf (idf = ln(N/df), plain — df >= 1
    for every scored term by construction), the classic keyword/topic
    proxy for corpus exploration and near-topic filtering.

    Shape: per-doc term counts = one map-side-combined groupBy (a doc's
    tokens collapse inside their input partition before the shuffle); the
    document-frequency table derives from it at type grain and joins back
    broadcast (Heaps-sublinear — cap with a head vocab at open-web
    scale); top-k = one row_number window per doc, ties broken by term
    for engine-portable determinism.

    Returns (doc_id, term, tf, score, rnk)."""
    from pyspark.sql import Window

    tf = type_counts(token_rows(docs, "text", "doc_id"), "tf", "doc_id")
    df_tbl = type_counts(tf, "df")
    n_docs = tf.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df_tbl), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select("doc_id", "term", "tf", "score", F.col("rnk").cast("long").alias("rnk"))
    )


def chunk_spans(docs: DataFrame, chunk_size: int = 256, stride: int = 192) -> DataFrame:
    """Sliding-window document chunking — the RAG / long-context
    preparation step: cut each document into ``chunk_size``-token windows
    advancing by ``stride`` tokens (overlap = chunk_size - stride), one
    output row per (doc, chunk) with exact token offsets.

    Spans: chunk i covers tokens [i*stride, min(i*stride + chunk_size,
    n_tokens)); the chunk count is the smallest m whose last window
    reaches the end — 1 for any non-empty doc up to chunk_size tokens,
    1 + ceil((n - chunk_size) / stride) beyond. Empty documents emit no
    chunks (the span table is a pure function of n_tokens, so a
    downstream gather can slice the token stream without re-tokenizing).

    Scale shape: zero shuffles and zero Python — n_tokens, the chunk
    count, and the exploded spans are all codegen'd column expressions,
    and explode is narrow (each doc's chunks materialize inside its input
    partition). At 10^12 docs this is a map-only pass whose output
    parallelism follows the scan's.

    Returns (doc_id, n_tokens, n_chunks, chunk_idx, tok_start, tok_end).
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    n = token_count(F.col("text"))
    n_chunks = (
        F.when(n <= 0, F.lit(0))
        .when(n <= chunk_size, F.lit(1))
        # integer ceil((n - chunk_size) / stride) + 1, ANSI-safe
        .otherwise(F.floor((n - F.lit(chunk_size) + F.lit(stride) - 1) / F.lit(stride)) + 1)
        .cast("long")
    )
    base = docs.select(
        "doc_id", n.alias("n_tokens"), n_chunks.alias("n_chunks")
    )
    # guard F.sequence against the descending (0, -1) range ANSI rejects:
    # empty docs get an empty array, which explode() drops entirely
    idx = F.when(
        F.col("n_chunks") >= 1, F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)
    ).otherwise(F.array().cast("array<long>"))
    start = F.col("chunk_idx") * stride
    return (
        base.withColumn("chunk_idx", F.explode(idx))
        .withColumn("tok_start", start)
        .withColumn(
            "tok_end", F.least(start + F.lit(chunk_size), F.col("n_tokens")).cast("long")
        )
        .select("doc_id", "n_tokens", "n_chunks", "chunk_idx", "tok_start", "tok_end")
    )


def source_profile(docs: DataFrame) -> DataFrame:
    """Per-source corpus health rollup — the curation dashboard a data
    team watches while mixing sources: document count, exact-duplicate
    rate (share of docs whose global fingerprint appears >1 time),
    mean quality score, mean token count, and language spread.

    Shape: the only corpus-scale shuffle is the fingerprint groupBy; the
    doc->fp-count join re-shuffles a narrow 5-column projection on the
    SAME key (co-partitioned, no extra exchange footprint under AQE);
    the final per-source groupBy is map-side combined into a handful of
    rows. Mean quality sums micro-unit INTEGERS (round(q*1e6)) so the
    result is summation-order-independent — engine-portable without a
    float-accumulation hash hazard.

    Returns (source, n_docs, n_dup_docs, dup_rate, mean_quality,
    mean_tokens, n_langs)."""
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).alias("n_tokens"),
        F.round(quality_score(F.col("text")) * 1e6).cast("long").alias("q6"),
    )
    fpc = base.groupBy("fp").agg(F.count(F.lit(1)).alias("n_fp"))
    joined = base.join(fpc, "fp")
    n = F.count(F.lit(1))
    n_dup = F.sum(F.when(F.col("n_fp") > 1, 1).otherwise(0))
    return joined.groupBy("source").agg(
        n.alias("n_docs"),
        n_dup.cast("long").alias("n_dup_docs"),
        (F.round(n_dup / n, 6) + 0.0).alias("dup_rate"),
        F.round(F.sum("q6") / n / F.lit(1e6), 6).alias("mean_quality"),
        F.round(F.sum("n_tokens") / n, 6).alias("mean_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


def quantile_filter(docs: DataFrame, frac: float = 0.1, stratum_col: str = "lang") -> DataFrame:
    """Relative quality gate: flag the bottom ``frac`` of documents PER
    STRATUM by quality score. Absolute thresholds misfire across
    languages/sources whose score distributions differ (a fixed 0.5 cut
    can drop half of one language and none of another); per-stratum
    quantiles adapt the cut to each distribution — the usual corpus-mix
    hygiene step.

    Shape: thresholds = one exact-percentile aggregate at stratum grain
    (rows = #strata) joined back broadcast; the keep flag is then a plain
    codegen'd comparison. At 10^12 docs swap ``percentile`` for
    ``percentile_approx`` — identical plan shape, no global sort either
    way. The keep comparison uses the 6-decimal-rounded threshold against
    the 6-decimal quality so both engines decide ties identically.

    Returns (doc_id, stratum, quality, q_threshold, keep)."""
    scored = docs.select(
        "doc_id",
        F.col(stratum_col).alias("stratum"),
        quality_score(F.col("text")).alias("quality"),
    )
    thresholds = scored.groupBy("stratum").agg(
        (F.round(F.percentile("quality", F.lit(frac)), 6) + 0.0).alias("q_threshold")
    )
    return scored.join(F.broadcast(thresholds), "stratum").select(
        "doc_id",
        "stratum",
        "quality",
        "q_threshold",
        (F.col("quality") >= F.col("q_threshold")).alias("keep"),
    )
