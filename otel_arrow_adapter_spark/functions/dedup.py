"""Deduplication operators for training-data pipelines.

Five strategies over a ``documents(doc_id, text, ...)`` table, each with a
scale story:

- exact:        fingerprint groupBy — one shuffle on a 32-byte key.
- minhash-LSH:  shingle -> k md5-minhashes -> band buckets -> bucket join.
                Candidate generation never compares all pairs; at 100 TB
                the bucket join is the only shuffle and banding bounds
                bucket sizes.
- simhash:      64-bit near-dup signature via token-hash bit voting
                (vectorized pandas UDF — bit arithmetic isn't columnar SQL).
- ngram-jaccard: exact verify for candidate pairs (used as LSH verifier and
                as ground truth at test SF).
- embedding-cosine: near-dup by vector similarity (see similarity.py).

All md5-based hashing is engine-portable: the DuckDB oracles compute
byte-identical signatures.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..caching import materialize_scope, owned_result
from .text import fingerprint, shingles

DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4  # rows-per-band = num_hashes / bands


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(fingerprint, n_docs, doc_ids) for groups with >1 member."""
    return (
        docs.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def doc_shingles(
    docs: DataFrame, k: int = 3, text_col: str = "text", distinct: bool = True
) -> DataFrame:
    """(doc_id, shingle) long table — distinct shingle set per doc
    (``distinct=False`` skips the extra (doc_id, shingle) shuffle for
    consumers that deduplicate downstream anyway).

    Built as posexplode(tokens) + window lead(k-1), NOT as an array
    ``transform`` lambda: Spark's higher-order functions are interpreted
    (no whole-stage codegen) and cost ~100µs/element, while
    generate + window + concat stay fully codegen'd. The window shuffle
    hash-partitions on doc_id — the same key the downstream minhash
    groupBy needs, so the sort-based shingling is effectively free at
    scale (one shuffle serves both)."""
    from .text import normalize_text

    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(normalize_text(F.col(text_col)), " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    out = toks.select(
        "doc_id",
        F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("shingle"),
    ).where(F.col("shingle").isNotNull())
    return out.distinct() if distinct else out


def minhash_signature(
    docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig_0..sig_{n-1}): lexicographic min-hash per shingle set.

    Hash family: 8-hex-char slices of salted md5(shingle) — one md5 yields
    4 independent-enough slices, so n signatures cost ceil(n/4) md5s per
    shingle instead of n. String min is engine-portable (the DuckDB oracle
    computes byte-identical signatures; 64-bit integer hash mixing would
    not be). Shape: one explode + one groupBy with n min() aggregates —
    a single map-side-combined shuffle; the aggregation also acts as a
    pipeline breaker so downstream banding doesn't re-expand the shingle
    expressions (projection collapse would otherwise duplicate them).
    Pass a (materialized) ``shingles`` table to share one shingling pass with
    other consumers (jaccard verify) — shingling is the expensive half."""
    sh = doc_shingles(docs, k) if shingles is None else shingles
    aggs = []
    for i in range(num_hashes):
        salt, slot = divmod(i, 4)
        h = F.md5(F.concat(F.lit(f"{salt}:"), F.col("shingle")))
        aggs.append(F.min(F.substring(h, 1 + 8 * slot, 8)).alias(f"sig_{i}"))
    return sh.groupBy("doc_id").agg(*aggs)


def banded_buckets(
    signatures: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(doc_id, band, bucket) long form of the banded minhash signature —
    the joinable LSH index shape (self-join for pair finding, cross-join
    against a persisted index for incremental ingestion)."""
    rows = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band_{b}"))
    banded = signatures.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket"))
                for b in range(bands)
            ])
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bucket")


def lsh_candidates(
    signatures: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Band the signature, bucket-join, emit candidate pairs (a < b).

    A pair is a candidate if ANY band matches (standard LSH OR-construction).
    """
    with materialize_scope() as m:
        # materialize before the self-join: both sides reuse ONE evaluation
        # of the signature lineage instead of recomputing it (at scale: one
        # scan, not two — and Catalyst's join-key null filters would
        # otherwise be pushed into duplicated upstream subtrees)
        stacked = m.keep(banded_buckets(signatures, num_hashes, bands))
        a, b = stacked.alias("a"), stacked.alias("b")
        pairs = (
            a.join(b, on=["band", "bucket"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        return owned_result(pairs)


def _verify_pairs(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    threshold: float,
    sh_a: DataFrame,
    sh_b: DataFrame | None = None,
) -> DataFrame:
    """Set-form exact Jaccard verify of candidate ``pairs``: each side's
    shingle rows are LEFT-SEMI-joined to that side's candidate doc ids and
    rolled up into one DISTINCT shingle SET per doc (collect_set), both
    sets are joined onto each pair, and n_common is a map-side
    array_intersect. Returns the pairs whose rounded ``jaccard`` reaches
    ``threshold``. With one shingle table (``sh_b`` None) both sides share
    one set frame over the union of candidate docs."""

    def sets(sh: DataFrame, ids: DataFrame) -> DataFrame:
        return (
            sh.join(ids.distinct(), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("_sh"))
        )

    ids_a = pairs.select(F.col(a_col).alias("doc_id"))
    ids_b = pairs.select(F.col(b_col).alias("doc_id"))
    if sh_b is None:
        set_a = set_b = sets(sh_a, ids_a.unionByName(ids_b))
    else:
        set_a, set_b = sets(sh_a, ids_a), sets(sh_b, ids_b)
    return (
        pairs.join(set_a.select(F.col("doc_id").alias(a_col), F.col("_sh").alias("_sh_a")), a_col)
        .join(set_b.select(F.col("doc_id").alias(b_col), F.col("_sh").alias("_sh_b")), b_col)
        .withColumn("n_common", F.size(F.array_intersect("_sh_a", "_sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.size("_sh_a") + F.size("_sh_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for all (or candidate) pairs.

    Without candidates: inverted-index join on shingle (never all-pairs —
    only docs sharing >=1 shingle are compared).

    With candidates: the shingle table is LEFT-SEMI-joined to the candidate
    doc-id set, rolled up into one DISTINCT shingle SET per candidate doc
    (collect_set — so the shared ``shingles`` table may skip its own
    corpus-wide distinct), and the pair join attaches both docs' sets to
    each candidate pair; n_common is a map-side array_intersect. No
    shingle-grain self-join exists on this path at all — the former
    inverted-index form shuffled |candidate-doc shingle rows| into a
    per-pair groupBy and was quadratic in hot-shingle buckets; the set
    form's join traffic is O(candidate pairs x doc length) with per-doc
    (bounded-length) arrays, and it measured ~1.4x faster end-to-end at
    sf0.1 (guide §2.3/§2.4: fewer shuffled bytes, one less shuffle).

    Ownership: only what THIS function materializes is released when the
    verified pairs materialize. Caller-supplied ``shingles`` /
    ``candidates`` frames that are already materialized are used as they
    are and never released here — a caller sharing one shingle table
    across several calls keeps it (materialize the passed frames yourself;
    an unmaterialized ``shingles`` with no ``candidates`` is re-evaluated
    per use)."""
    sh = doc_shingles(docs, k, distinct=False) if shingles is None else shingles
    with materialize_scope() as m:
        if candidates is not None:
            candidates = m.keep(candidates)  # used 3x: doc-id set + 2 pair joins
            out = _verify_pairs(candidates, "doc_a", "doc_b", threshold, sh).select(
                "doc_a", "doc_b", "jaccard"
            )
            return owned_result(out)
        # No candidates: the exact inverted-index path (test/ground-truth scale).
        # distinct() is idempotent, so a shared non-distinct shingle table is
        # handled identically to a pre-distinct one.
        sh = m.keep(sh.distinct())  # used 3x: both join sides + sizes
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        a, b = sh.alias("a"), sh.alias("b")
        common = (
            a.join(b, on="shingle")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
        out = (
            common.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn(
                "jaccard",
                F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
            )
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
        return owned_result(out)


def lsh_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
) -> DataFrame:
    """Verified near-dup pairs (doc_a, doc_b, jaccard): MinHash-LSH
    candidates checked by exact shingle Jaccard — the front half of every
    dedup chain. ONE shingling pass feeds both the minhash and the verify;
    non-distinct, because minhash's min() is duplicate-insensitive and the
    set-based verify dedups via collect_set, so the corpus-wide
    (doc_id, shingle) distinct shuffle is skipped (guide §2.4). The shingle
    table and the candidates are freed before returning, on error too; the
    caller owns the materialized pairs."""
    with materialize_scope() as m:
        sh = m.keep(doc_shingles(docs, k, distinct=False))
        sig = minhash_signature(docs, num_hashes, k, shingles=sh)
        cand = m.own(lsh_candidates(sig, num_hashes, bands))
        return jaccard_pairs(docs, threshold, k, candidates=cand, shingles=sh)


def incremental_dedup(
    batch: DataFrame,
    index: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingestion dedup gate: classify each document of a NEW
    batch against an EXISTING corpus index — the daily-crawl-increment
    production pattern (one-shot cleaning is ``doc_clean_corpus*``;
    cross-micro-batch streaming is ``dedup_stream``). Per batch doc:
    ``exact_dup`` (fingerprint already in the index), else ``batch_dup``
    (an earlier doc in the SAME batch shares its fingerprint — keep-first
    within the increment), else ``near_dup`` (LSH band candidate against
    the index verified at shingle-Jaccard >= threshold), else ``new``.
    Returns (doc_id, reason, keep) for every batch doc.

    Scale shape at a 10^12-doc index: the index side is PRECOMPUTED state —
    its fingerprints and band buckets live as bucketed tables
    (sources/bucketed.py layout) appended per increment, so per-batch cost
    is batch-sized maps plus equi-joins into those tables (semi-join on
    fp; band-bucket equi-join; shingle verify only for candidate docs).
    Here both sides derive inline from the given frames; nothing below is
    pair-quadratic — the only self-comparison is the fingerprint
    keep-first groupBy."""
    with materialize_scope() as m:
        # fingerprints + the exact/batch-dup verdicts are each referenced by
        # several downstream materializations (survivors' anti-joins AND the
        # final classification join). Unmaterialized, every reference
        # re-derived the whole batch union (4 scans of the source) and re-ran
        # the md5 fingerprint over the FULL text — the expensive per-row op of
        # the exact stage — 3-4x per run. The verdict frames are O(batch)
        # doc_id rows; materialize them once.
        fp_b = m.keep(batch.select("doc_id", fingerprint(F.col(text_col)).alias("fp")))
        fp_i = index.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
        exact = m.keep(
            fp_b.join(fp_i, "fp", "left_semi").select("doc_id").withColumn("r_exact", F.lit(True))
        )
        keeper = fp_b.groupBy("fp").agg(F.min("doc_id").alias("_keeper"))
        bdup = m.keep(
            fp_b.join(keeper, "fp")
            .where(F.col("doc_id") != F.col("_keeper"))
            .select("doc_id")
            .withColumn("r_batch", F.lit(True))
        )
        # near-dup vs the index — computed only for docs that SURVIVED the
        # exact stages (classic order: exact first, near on survivors). This
        # is also the hot-bucket guard: a text repeated 10^4 times in the
        # increment contributes ONE survivor to the band join instead of 10^4
        # docs sharing every band bucket and shingle. (The index side is the
        # already-deduped corpus by construction — one doc per fingerprint.)
        survivors = (
            batch.join(exact.select("doc_id"), "doc_id", "left_anti")
            .join(bdup.select("doc_id"), "doc_id", "left_anti")
        )
        # ONE shingle pass per side, shared by minhash AND the Jaccard verify
        # (shingling is the expensive half — same sharing contract as
        # minhash_signature's ``shingles`` parameter). Non-distinct: minhash's
        # min() is duplicate-insensitive and the set verify dedups via
        # collect_set, so the corpus-wide (doc_id, shingle) distinct shuffle
        # is skipped entirely (guide §2.4).
        sh_surv = m.keep(doc_shingles(survivors, k, text_col, distinct=False))
        sh_idx = m.keep(doc_shingles(index, k, text_col, distinct=False))
        bb = banded_buckets(
            minhash_signature(survivors, num_hashes, k, shingles=sh_surv), num_hashes, bands
        )
        bi = banded_buckets(
            minhash_signature(index, num_hashes, k, shingles=sh_idx), num_hashes, bands
        ).select(F.col("doc_id").alias("index_doc"), "band", "bucket")
        cand = m.keep(bb.join(bi, ["band", "bucket"]).select("doc_id", "index_doc").distinct())
        # Jaccard verify in set form (see _verify_pairs): no shingle-grain
        # join exists here at all
        near = (
            _verify_pairs(cand, "doc_id", "index_doc", threshold, sh_surv, sh_idx)
            .select("doc_id")
            .distinct()
            .withColumn("r_near", F.lit(True))
        )
        reason = (
            F.when(F.col("r_exact"), F.lit("exact_dup"))
            .when(F.col("r_batch"), F.lit("batch_dup"))
            .when(F.col("r_near"), F.lit("near_dup"))
            .otherwise(F.lit("new"))
        )
        out = (
            batch.select("doc_id")
            .join(exact, "doc_id", "left")
            .join(bdup, "doc_id", "left")
            .join(near, "doc_id", "left")
            .select("doc_id", reason.alias("reason"), (reason == "new").alias("keep"))
        )
        return owned_result(out)


def dup_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_name: str = "doc_id",
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected components
    by iterative min-label propagation.

    Pair finders (LSH/Jaccard/SimHash/exact) emit edges; the keep-one-copy
    decision needs components — A~B and B~C must collapse to ONE kept doc
    even when A~C was never emitted as a pair.  Output: one row per doc
    appearing in >=1 pair — (doc_id, cluster_id, cluster_size, is_rep)
    where cluster_id = min doc_id in the component (the kept representative,
    matching the keep-first rule in exact dedup / clean_corpus).

    Shape per round: one edges⋈labels join + one groupBy(dst).min —
    both shuffle on doc_id, so AQE coalesces them into the same exchange
    footprint; labels are materialized per round and the previous round's
    released (resident state = edges + 2 x one row per doc, same
    discipline as kmeans_train).  Convergence = a changed-label count per
    round, observed (``pyspark.sql.Observation``) on the round's own
    materialization job — no extra count job — bounded by ``max_iters``.
    Rounds needed = component diameter: near-dup clusters are dense and
    shallow (a dup group is near-clique), so 3-5 rounds in practice; for
    adversarially long chain graphs the known upgrade is
    large-star/small-star path doubling (O(log d)) — not worth its extra
    shuffles for dedup workloads.
    """
    sym = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    # self-loop per node: one edges⋈labels→min covers "own label vs
    # neighbors' labels" without a second reference to the labels frame.
    # sym is symmetric, so its src column already covers every node — the
    # self-loops derive from sym directly and the final distinct dedups
    # them, skipping a separate nodes-distinct shuffle (guide §2.4).
    with materialize_scope() as m:
        edges = m.keep(
            sym.unionByName(sym.select(F.col("src"), F.col("src").alias("dst"))).distinct()
        )
        # initial labels derive from the FLAT edges (self-loop rows are exactly
        # the node set), so no plan ever references the pair finder again; not
        # materialized itself — round 0's materialization truncates it
        labels = edges.where(F.col("src") == F.col("dst")).select(
            F.col("src").alias("doc_id"), F.col("src").alias("label")
        )

        def _propagate(lbl: DataFrame) -> DataFrame:
            # The self-loop row (src==dst) carries dst's PREVIOUS label through
            # the same shuffle, so one groupBy yields both the new label and the
            # convergence flag — no separate labels⋈labels diff join per round.
            return (
                edges.join(lbl, edges.src == lbl.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("src") == F.col("dst"), F.col("label"))).alias("_prev"),
                )
            )

        # Two propagation steps per materialization: the shuffles per step are
        # inherent (they ARE the label propagation), but materialization jobs
        # are pure per-round overhead — halved by checking convergence every
        # second step. Stopping when the LAST step changed nothing is exact:
        # min-label propagation is monotone, a no-change step is a fixed point.
        for _ in range(max(1, max_iters // 2)):
            obs = Observation()
            nxt = m.keep(
                _propagate(_propagate(labels))
                .observe(obs, F.count(F.when(F.col("label") != F.col("_prev"), 1)).alias("changed"))
            )
            m.free(labels)
            labels = nxt
            if obs.get["changed"] == 0:
                break
        out = labels.select(
            F.col("doc_id").alias(id_name),
            F.col("label").alias("cluster_id"),
            F.count(F.lit(1)).over(Window.partitionBy("label")).alias("cluster_size"),
            (F.col("doc_id") == F.col("label")).alias("is_rep"),
        )
        return owned_result(out)


def leakage_free_split(
    docs: DataFrame,
    pairs: DataFrame,
    val_frac: float = 0.1,
    id_col: str = "doc_id",
    denom: int = 10000,
) -> DataFrame:
    """Train/validation split that cannot leak near-duplicates across the
    boundary: every member of a duplicate cluster follows its CLUSTER's
    hash draw (split key = cluster id, the component's min doc id);
    singletons draw on their own id. A plain per-doc random split puts one
    copy of a duplicated document in train and its near-copy in val,
    silently inflating eval scores — the classic C4/web-corpus leakage
    failure; splitting at cluster grain is the fix.

    Shape at 100 TB: :func:`dup_clusters` resolves the pair graph
    (O(component diameter) rounds); the cluster map is O(dup docs) — tiny
    next to the corpus — and joins back on doc_id; the draw itself is a
    pure md5 expression (reproducible across engines and re-runs, no RNG
    state). Returns (doc_id, split_key, split), materialized: the caller
    owns it and calls ``unpersist()`` when done."""
    key = F.coalesce(F.col("cluster_id"), F.col(id_col))
    u = F.pmod(
        F.conv(F.substring(F.md5(key.cast("string")), 1, 12), 16, 10).cast("long"),
        F.lit(denom),
    )
    with materialize_scope() as m:
        clusters = m.own(dup_clusters(pairs, id_name=id_col))
        joined = docs.select(id_col).join(clusters.select(id_col, "cluster_id"), id_col, "left")
        out = joined.select(
            id_col,
            key.alias("split_key"),
            F.when(u < int(val_frac * denom), F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
        return owned_result(out)




# ---------------------------------------------------------------------------
# SimHash (vectorized pandas UDF — bit voting isn't columnar SQL)
# ---------------------------------------------------------------------------

def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Vectorized simhash: tokenize the whole batch, md5 only the UNIQUE
    tokens (vocab is tiny vs token stream), then a numpy scatter-add of the
    ±1 bit votes per doc — no per-token Python in the hot loop."""
    import hashlib

    import numpy as np

    toks_per_doc = texts.fillna("").astype(str).str.lower().str.split()
    counts = toks_per_doc.str.len().to_numpy(dtype=np.int64)
    n = len(texts)
    flat = np.fromiter(
        (tok for toks in toks_per_doc for tok in toks), dtype=object, count=int(counts.sum())
    )
    if len(flat) == 0:
        return pd.Series(np.zeros(n, dtype=np.int64))
    doc_idx = np.repeat(np.arange(n), counts)
    vocab, tok_code = np.unique(flat, return_inverse=True)
    # md5 of each unique token -> uint64 (loop over vocab only)
    vh = np.fromiter(
        (int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big") for t in vocab),
        dtype=np.uint64,
        count=len(vocab),
    )
    bits = ((vh[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int8)
    votes_per_tok = (2 * bits - 1).astype(np.int32)  # (vocab, 64) in ±1
    acc = np.zeros((n, 64), dtype=np.int64)
    step = 1 << 18  # bound the (tokens, 64) gather intermediate to ~64 MB
    for lo in range(0, len(tok_code), step):
        sl = slice(lo, lo + step)
        np.add.at(acc, doc_idx[sl], votes_per_tok[tok_code[sl]])
    sig = ((acc > 0).astype(np.uint64) * (np.uint64(1) << np.arange(64, dtype=np.uint64))).sum(
        axis=1, dtype=np.uint64
    )
    return pd.Series(sig.astype(np.int64))


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash long). Arrow-batched; per-token md5 keeps it
    deterministic across engines/runs."""
    udf = F.pandas_udf(_simhash_batch, "long")
    return docs.select("doc_id", udf(F.col(text_col)).alias("simhash"))


def simhash_near_dups(
    docs: DataFrame, max_hamming: int = 3, max_bucket_size: int | None = None
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance <= max_hamming.

    Scale path: block on 4 16-bit chunks (a pair within distance 3 must
    match at least one chunk exactly — pigeonhole), join per block, verify
    with bit_count. Never all-pairs — but low-entropy corpora concentrate
    identical signatures into hot chunk buckets whose join IS quadratic in
    the bucket; ``max_bucket_size`` drops (chunk_idx, chunk) blocks larger
    than the cap (the standard super-frequent-block guard; recall for
    pairs ONLY covered by a dropped block is sacrificed, exact-duplicate
    pairs still surface through their other 3 chunks unless all are hot)."""
    # materialize: the 16-byte-per-doc signature table is the thing you'd
    # keep in cluster memory at 100 TB; without it the self-join evaluates
    # the pandas UDF lineage once per side per union branch (measured 12x
    # evals -> 18s instead of ~2s at sf0.1)
    with materialize_scope() as m:
        sig = m.keep(simhash(docs))
        chunks = sig.select(
            "doc_id",
            "simhash",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for i in range(4)
                ])
            ).alias("c"),
        ).select("doc_id", "simhash", "c.chunk_idx", "c.chunk")
        if max_bucket_size is not None:
            small = (
                chunks.groupBy("chunk_idx", "chunk")
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") <= max_bucket_size)
                .select("chunk_idx", "chunk")
            )
            chunks = chunks.join(small, ["chunk_idx", "chunk"], "left_semi")
        a, b = chunks.alias("a"), chunks.alias("b")
        cand = (
            a.join(b, on=["chunk_idx", "chunk"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("sig_a"),
                F.col("b.simhash").alias("sig_b"),
            )
            .distinct()
        )
        out = (
            cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming")
        )
        return owned_result(out)


def dup_spans(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    min_tokens: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style duplicate-SPAN detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): maximal
    token runs occurring verbatim in >= ``min_docs`` distinct documents,
    located by anchoring every word k-gram and merging overlapping
    duplicated anchors into islands. The reference algorithm builds a
    corpus-wide suffix array — inherently sequential; the distributed
    equivalent anchors fixed-length grams, which finds exactly the spans
    of length >= k tokens (shorter repeats are invisible by construction,
    the standard precision/parallelism trade).

    Shape at 100 TB: shingling is the codegen'd window shingler (one
    doc_id-partitioned window, shared key with nothing downstream — the
    gram groupBy rekeys); duplicated-gram detection is one map-side-
    combined groupBy on the gram string (shuffled rows ≈ distinct grams,
    near-uniform keys, no skew salt needed); the join back is gram-keyed;
    span merging is an islands window (pos - row_number) partitioned per
    doc — state bounded by document length, never corpus-wide.

    Returns (doc_id, span_start, span_len, n_grams): 0-based token
    offset, span length in tokens, and the number of k-gram anchors
    merged into the span.
    """
    from .text import normalize_text

    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(normalize_text(F.col(text_col)), " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    grams = toks.select(
        "doc_id",
        "pos",
        F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("gram"),
    ).where(F.col("gram").isNotNull())
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gram")
    )
    hits = grams.join(dup, "gram").select("doc_id", "pos")
    iw = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn("island", F.col("pos") - F.row_number().over(iw))
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    out = spans.select("doc_id", "span_start", "span_len", "n_grams")
    if min_tokens is not None:
        out = out.where(F.col("span_len") >= min_tokens)
    return out


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least
    one word n-gram with an evaluation set (the GPT-3/PaLM 13-gram-overlap
    protocol, here parameterized; default n=8). Returns
    (doc_id, n_hit_grams) for contaminated documents only, where
    n_hit_grams counts DISTINCT overlapping n-grams.

    Scale shape: eval sets are tiny next to a 100 TB corpus, so the
    benchmark's distinct n-gram set is broadcast — the corpus side is the
    codegen'd window shingler (posexplode + lead, NOT an interpreted array
    ``transform``: 6x faster measured at sf0.1) + broadcast-hash join +
    map-side-combined groupBy(doc_id); the only shuffle at doc_id grain is
    over the (rare) hits. Never an all-pairs or sort-merge join against
    the fact table.
    """
    bench_grams = doc_shingles(benchmark, k=n, text_col=bench_text_col).select(
        F.col("shingle").alias("gram")
    ).distinct()
    doc_grams = doc_shingles(docs, k=n, text_col=text_col, distinct=False).select(
        "doc_id", F.col("shingle").alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_hit_grams"))
    )
