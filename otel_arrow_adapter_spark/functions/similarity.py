"""Similarity search over an embedding column (array<float>).

Operator families, native column expressions unless noted:

- exact top-k: ``cosine_topk`` (brute force against one query vector)
  and ``quantized_cosine_topk`` (the same over int8-SQ reconstructions
  from ``quantize_embeddings``);
- sign-LSH pair finders: ``ann_pairs``, ``ann_pairs_multiprobe``,
  ``ann_pairs_banded`` and ``ann_pairs_projected`` (pandas-UDF
  projection buckets), with ``brute_force_pairs`` as recall ground truth;
- IVF: ``ivf_assign`` (coarse assignment to the seed centroids: one
  broadcast n x k scoring and a groupBy struct-max argmax, no window),
  ``ivf_search`` (seed or ``kmeans_train`` centroids) and ``semdedup``;
- PQ: ``pq_codebooks``/``pq_train_codebooks``, ``pq_encode``,
  ``pq_code_histogram``, ``pq_search_adc``, ``ivfpq_search`` and
  ``pq_search_rescored``;
- ``embedding_moments`` and ``pca_project`` (mapInPandas).

Shared cores, one body per decision: ``_query_vec`` + ``_query_scored``
(rounded cosine of candidates against one broadcast query vector),
``_bucket_pairs`` (candidate join + cosine verify of the pair finders),
``_probed_ids`` (the IVF probe), ``_adc_scores`` (PQ lookup-table
scoring), ``_pq_nearest`` (the PQ L2 argmin) and ``_lloyd_means`` (the
k-means centroid update). Every top-k ends in
``operators.normalize.top_k``, the windowless rank.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.normalize import top_k


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _query_vec(vectors: DataFrame, query_vec_id: int, vec_col: str) -> DataFrame:
    """The one-row ``q_vec`` frame of the query vector."""
    return vectors.where(F.col("vec_id") == query_vec_id).select(F.col(vec_col).alias("q_vec"))


def _query_scored(
    candidates: DataFrame,
    q: DataFrame,
    vec_col: str,
    key: str = "vec_id",
    score: str = "cos_sim",
) -> DataFrame:
    """(key, score): each candidate's cosine to the broadcast query vector
    ``q``, rounded like every other score so oracle ranking ties agree."""
    return candidates.crossJoin(F.broadcast(q)).select(
        key, F.round(cosine(F.col(vec_col), F.col("q_vec")), 6).alias(score)
    )


def cosine_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Top-k neighbors of one vector by cosine (excluding itself);
    deterministic tie-break by vec_id."""
    q = _query_vec(embeddings, query_vec_id, "embedding")
    scored = _query_scored(embeddings.where(F.col("vec_id") != query_vec_id), q, "embedding")
    return top_k(scored, "cos_sim", "vec_id", k)


def _sign_bits(start: int, m: int) -> Column:
    """Sign-bit string ("1" for >= 0) of dimensions [start, start + m)."""
    return F.concat(*[
        F.when(F.element_at(F.col("embedding"), start + i + 1) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for i in range(m)
    ])


def _bucket_pairs(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] | Column,
    threshold: float,
    distinct: bool = True,
) -> DataFrame:
    """The shared candidate-join-and-verify body of the ANN pair finders:
    join the bucket sides (aliased ``l``/``r``) on ``on``, keep each
    unordered pair once (``l.vec_id < r.vec_id``), and keep it when the
    rounded cosine clears ``threshold``. ``distinct`` drops the repeats
    that multi-probe and multi-table joins produce."""
    pairs = (
        left.alias("l").join(right.alias("r"), on)
        .where(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            F.round(cosine(F.col("l.embedding"), F.col("r.embedding")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )
    return pairs.distinct() if distinct else pairs


def sign_lsh_buckets(embeddings: DataFrame, m: int = 8) -> DataFrame:
    """Bucket id = sign-bit string of the first m dimensions."""
    return embeddings.withColumn("bucket", _sign_bits(0, m))


def ann_pairs(embeddings: DataFrame, threshold: float = 0.3, m: int = 8) -> DataFrame:
    """Approximate near-neighbor pairs: same sign-LSH bucket + cosine >= t."""
    b = sign_lsh_buckets(embeddings, m).select("vec_id", "bucket", "embedding")
    return _bucket_pairs(b, b, "bucket", threshold, distinct=False)


def seed_centroids(embeddings: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic init: the first n vectors by vec_id. (k-means++ would
    sample distance-weighted; deterministic-first keeps every downstream
    result oracle-checkable.)"""
    return embeddings.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )


def assign_to_centroids(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, cos_sim) of each vector's nearest centroid.

    Broadcast n×k scoring + max_by argmin — ONE map-side-combined shuffle
    on vec_id, no window. At 10^9 vectors × 4096 centroids this is the
    IVF coarse-quantization pass."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "centroid_id",
        F.round(cosine(F.col("embedding"), F.col("c_vec")), 6).alias("cos_sim"),
    )
    # deterministic argmax: max over (cos_sim, -centroid_id) breaks ties
    # toward the smaller centroid id
    best = scored.groupBy("vec_id").agg(
        F.max(F.struct(F.col("cos_sim"), (-F.col("centroid_id")).alias("_nid"))).alias("_b")
    )
    return best.select(
        "vec_id", (-F.col("_b._nid")).alias("centroid_id"), F.col("_b.cos_sim").alias("cos_sim")
    )


def ivf_assign(embeddings: DataFrame, n_centroids: int = 10) -> DataFrame:
    """IVF coarse assignment against the seed centroids (oracle-checkable)."""
    return assign_to_centroids(embeddings, seed_centroids(embeddings, n_centroids))


def semdedup(embeddings: DataFrame, n_clusters: int = 10, threshold: float = 0.35) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
    + within-cluster pairwise cosine. A vector is a duplicate when some
    cluster-mate EARLIER in the cluster's fixed scan order has cosine
    >= ``threshold`` to it; the scan order is ascending similarity to the
    centroid, so each duplicate group's surviving representative is its
    LEAST-central member — the paper's keep-low-centroid-similarity
    choice (it preserves the cluster's diversity edge, not its mode).

    Shape at 10^9 vectors: coarse assignment is the broadcast n×k scoring
    pass of :func:`ivf_assign`; the rank window partitions per cluster;
    the pair scan is a centroid_id-keyed equi-join — cluster-bounded
    (n²/k dot products total, the published algorithm's cost; pick
    n_clusters so clusters fit a task, e.g. k≈10^5 at 10^9 vectors), and
    the rank inequality halves it. Never an all-pairs join; cluster-size
    skew is AQE skew-join territory (or re-seed the centroids). Synthetic
    test embeddings are near-orthogonal, so the default threshold is low;
    real model embeddings use τ≈0.95.

    Returns one row per vector: (vec_id, centroid_id, centroid_sim,
    keep) — ``keep`` false for dropped duplicates.
    """
    assign = ivf_assign(embeddings, n_clusters)
    w = Window.partitionBy("centroid_id").orderBy(F.asc("cos_sim"), F.asc("vec_id"))
    a = assign.withColumn("rnk", F.row_number().over(w)).join(
        embeddings.select("vec_id", "embedding"), "vec_id"
    )
    left = a.select(
        F.col("centroid_id").alias("cid"),
        F.col("rnk").alias("lrnk"),
        F.col("embedding").alias("lv"),
    )
    right = a.select(
        "vec_id",
        F.col("centroid_id").alias("cid"),
        F.col("rnk").alias("rrnk"),
        F.col("embedding").alias("rv"),
    )
    dropped = (
        left.join(right, "cid")
        .where(F.col("lrnk") < F.col("rrnk"))
        .where(F.round(cosine(F.col("lv"), F.col("rv")), 6) >= threshold)
        .select("vec_id")
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assign.join(dropped, "vec_id", "left").select(
        "vec_id",
        "centroid_id",
        F.col("cos_sim").alias("centroid_sim"),
        F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
    )


def kmeans_train(embeddings: DataFrame, n_centroids: int = 10, iters: int = 5) -> DataFrame:
    """Distributed Lloyd iterations for IVF centroids (cosine geometry:
    centroids are L2-normalized means, so dot == cosine ranking).

    Per iteration: broadcast k centroids, argmax-assign (one shuffle on
    vec_id), recompute means by (centroid, dim) (:func:`_lloyd_means`).
    Each iteration's centroids are materialized (the same one k-row job
    the next iteration's broadcast would trigger anyway) and the
    PREVIOUS iteration's freed immediately: resident
    footprint is 2 x k x dim instead of iters x k x dim, with no
    driver-side collect of vector data. The last iteration's centroids
    are the caller's owned result; ``unpersist()`` them when done."""
    from ..caching import materialize_scope, owned_result

    def unit(cents: DataFrame) -> DataFrame:
        # normalize so dot-product ranking == cosine ranking
        return cents.select(
            "centroid_id", F.transform("c_vec", lambda x: x / norm(F.col("c_vec"))).alias("c_vec")
        )

    cents = unit(seed_centroids(embeddings, n_centroids))
    with materialize_scope() as m:
        for i in range(iters):
            assigned = assign_to_centroids(embeddings, cents).select("vec_id", "centroid_id")
            members = embeddings.join(assigned, "vec_id")
            new_cents = unit(_lloyd_means(members, ["centroid_id"], "embedding", "c_vec"))
            if i + 1 < iters:  # the last round becomes the caller's result
                new_cents = m.keep(new_cents)
                m.free(cents)
            cents = new_cents
        return owned_result(cents)


def _lloyd_means(members: DataFrame, keys: list[str], vec_col: str, out: str) -> DataFrame:
    """The Lloyd update: per ``keys`` group of ``members``, the mean of
    ``vec_col`` as vector ``out``. posexplode to dim grain so the mean is a
    plain map-side-combined agg, never a whole-vector reduce on one task;
    the dims are then collected back in order."""
    by_dim = (
        members.select(*keys, F.posexplode(vec_col).alias("dim", "x"))
        .groupBy(*keys, "dim")
        .agg(F.avg("x").alias("m"))
    )
    return by_dim.groupBy(*keys).agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]).alias(out)
    )


def kmeans_inertia(embeddings: DataFrame, centroids: DataFrame) -> float:
    """Mean (1 - cos) to the assigned centroid — the convergence metric."""
    a = assign_to_centroids(embeddings, centroids)
    return a.agg(F.avg(1 - F.col("cos_sim"))).first()[0]


def ann_pairs_multiprobe(embeddings: DataFrame, threshold: float = 0.3, m: int = 8) -> DataFrame:
    """Multi-probe sign-LSH near-neighbor pairs: a pair is a candidate iff
    their m-bit sign buckets differ in AT MOST ONE bit — one side joins on
    its exact bucket, the other explodes to (m+1) probes (exact + each
    single-bit flip). Recall strictly dominates the exact-bucket join at
    the same m (the standard remedy for "more planes lose recall"); cost
    is bounded at (m+1)x the probe-side rows, still never all-pairs."""
    b = sign_lsh_buckets(embeddings, m).select("vec_id", "bucket", "embedding")
    flips = [F.col("bucket")] + [
        F.concat(
            F.substring("bucket", 1, i),
            F.when(F.substring("bucket", i + 1, 1) == "1", F.lit("0")).otherwise(F.lit("1")),
            F.substring("bucket", i + 2, m - i - 1),
        )
        for i in range(m)
    ]
    probes = b.select("vec_id", "embedding", F.explode(F.array(*flips)).alias("probe"))
    return _bucket_pairs(b, probes, F.col("l.bucket") == F.col("r.probe"), threshold)


def sign_lsh_banded_buckets(embeddings: DataFrame, m: int = 16, n_tables: int = 4) -> DataFrame:
    """Multi-table axis-sign LSH: table t's bucket = the m sign bits of the
    DISJOINT dimension block [t*m, (t+1)*m). Requires m * n_tables <= dim.
    Pure comparisons on stored values (no arithmetic), so buckets are
    bit-reproducible on any engine."""
    tables = [
        F.struct(F.lit(t).cast("int").alias("table"), _sign_bits(t * m, m).alias("bucket"))
        for t in range(n_tables)
    ]
    return embeddings.select(
        "vec_id", "embedding", F.explode(F.array(*tables)).alias("tb")
    ).select(
        "vec_id", "embedding", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
    )


def ann_pairs_banded(
    embeddings: DataFrame, threshold: float = 0.9, m: int = 16, n_tables: int = 4
) -> DataFrame:
    """Near-duplicate pairs by OR-amplified multi-table sign-LSH — the
    minhash-banding construction applied to hyperplane LSH: a pair is a
    candidate iff it collides in ANY of the L tables, each table hashing m
    sign bits into 2^m buckets.

    Scale math (why m=8 single-table cannot survive 10^9 vectors):
    - Bucket capacity: a single m-bit table holds n/2^m vectors per bucket
      on average and the intra-bucket join is quadratic in that. m must
      grow with the corpus: 2^m ≈ n/100 keeps buckets ~100 rows
      (m=16 -> ~10^6.8 vectors; 10^9 vectors need m≈23-27, see
      ann_pairs_projected for m·L > dim).
    - Recall: per-plane agreement p = 1 - θ/π; one m-bit table finds a
      pair with p^m, L tables with 1 - (1 - p^m)^L. Near-duplicates
      (cos >= 0.99, θ <= 8.1°, p >= 0.955): m=16 -> p^m = 0.48, L=4 ->
      recall 0.93. Moderate similarity (cos 0.25) is NOT this operator's
      regime — that's ivf_search territory.
    Cost is bounded at L x the single-table join; never all-pairs."""
    b = sign_lsh_banded_buckets(embeddings, m, n_tables)
    return _bucket_pairs(b, b, ["table", "bucket"], threshold)


def projected_buckets(
    embeddings: DataFrame, m: int = 24, n_tables: int = 4, seed: int = 7
) -> DataFrame:
    """Signed-random-projection buckets for the m·L > dim regime: bucket
    bit j of table t = sign(<v, r_tj>) with r from a seeded ±1 matrix —
    the classic random-hyperplane LSH, needed once the corpus outgrows the
    axis-sign bucket space (10^9 vectors want m≈24-32 regardless of the
    stored dimensionality). Vectorized pandas UDF (one numpy matmul per
    Arrow batch, §2.10: no per-row Python); deterministic via the seeded
    generator, pytest-gated (FP summation order makes it non-SQL-oracle)."""
    from pyspark.sql.functions import pandas_udf

    total = m * n_tables

    @pandas_udf("array<long>")
    def _bucketize(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(vecs.to_numpy())
        R = np.random.default_rng(seed).choice([-1.0, 1.0], size=(V.shape[1], total))
        bits = (V @ R) >= 0
        weights = 1 << np.arange(m, dtype=np.int64)
        out = [
            bits[:, t * m : (t + 1) * m] @ weights  # noqa: E203
            for t in range(n_tables)
        ]
        return pd.Series(list(np.stack(out, axis=1)))

    return embeddings.withColumn("buckets", _bucketize(F.col("embedding")))


def ann_pairs_projected(
    embeddings: DataFrame,
    threshold: float = 0.9,
    m: int = 24,
    n_tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """ann_pairs_banded with projection buckets — the 10^9-vector shape:
    2^24 buckets/table keeps the expected bucket at ~60 rows for 10^9
    vectors (sub-quadratic: ~60x candidate rows per probe row), and L
    tables buy the recall back — unlike disjoint axis blocks, projections
    have no m·L <= dim ceiling (cos 0.99: p^24 = 0.33, L=4 -> 0.80,
    L=8 -> 0.96; measured on planted cos~0.95 near-dups in
    BENCH/BASELINE.md). Same join discipline: collide in any table,
    cosine verify, never all-pairs."""
    b = projected_buckets(embeddings, m, n_tables, seed)
    expl = b.select(
        "vec_id", "embedding", F.posexplode("buckets").alias("table", "bucket")
    )
    return _bucket_pairs(expl, expl, ["table", "bucket"], threshold)


def brute_force_pairs(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Exact all-pairs ground truth (recall denominators in tests/bench
    ONLY — quadratic, never a production path)."""
    l = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("_ea"))
    r = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("_eb"))
    return (
        l.crossJoin(r)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("_ea"), F.col("_eb")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _probed_ids(
    embeddings: DataFrame,
    q: DataFrame,
    n_centroids: int,
    n_probe: int,
    centroids: DataFrame | None,
) -> DataFrame:
    """The IVF probe: ``vec_id`` of every vector in the query's ``n_probe``
    nearest inverted lists, against seed (default) or given centroids.
    Centroid scoring is a broadcast; the list restriction a broadcast
    semi-join."""
    cents = centroids if centroids is not None else seed_centroids(embeddings, n_centroids)
    probes = (
        _query_scored(cents, q, "c_vec", key="centroid_id", score="qc")
        .orderBy(F.desc("qc"), F.asc("centroid_id"))
        .limit(n_probe)
        .select("centroid_id")
    )
    assigned = assign_to_centroids(embeddings, cents).select("vec_id", "centroid_id")
    return assigned.join(F.broadcast(probes), "centroid_id", "left_semi").select("vec_id")


def ivf_search(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 10,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k: probe the query's n_probe nearest centroids, brute-force
    ONLY inside those clusters — the 10^9-vector scale path (scanned
    fraction ≈ n_probe / n_centroids). With n_probe == n_centroids this
    degrades to exact brute-force (recall test anchor)."""
    q = _query_vec(embeddings, query_vec_id, "embedding")
    probed = _probed_ids(embeddings, q, n_centroids, n_probe, centroids)
    candidates = embeddings.join(probed, "vec_id", "left_semi").where(
        F.col("vec_id") != query_vec_id
    )
    return top_k(_query_scored(candidates, q, "embedding"), "cos_sim", "vec_id", k)


def quantize_embeddings(embeddings: DataFrame, bits: int = 8) -> DataFrame:
    """Per-dimension symmetric scalar quantization (the int8-SQ storage
    path every billion-vector ANN deployment runs before IVF/LSH: 4x-8x
    smaller vectors, distances on reconstructions).

    code_d = floor(x_d / s_d * (2^(bits-1)-1) + 0.5) with s_d = corpus
    max|x_d| — floor(x+0.5) instead of round() so the arithmetic is
    bit-identical across engines (half-up in every SQL dialect).

    Scale shape: the per-dim scales are O(dim) global state — one
    posexplode + groupBy(pos) with map-side partial max (shuffles dim
    rows per partition, never the vectors), collapsed to a single-row
    array and BROADCAST back; quantization itself is a zip_with, pure
    codegen. Returns (vec_id, codes array<int>, scales array<double>).
    """
    levels = float((1 << (bits - 1)) - 1)
    scales = (
        embeddings.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("s"))
        .agg(F.sort_array(F.collect_list(F.struct("pos", "s"))).alias("ps"))
        .select(F.transform("ps", lambda e: e["s"]).alias("scales"))
    )
    codes = F.zip_with(
        "embedding",
        "scales",
        lambda x, s: F.when(
            s > 0, F.floor(x.cast("double") / s * levels + 0.5).cast("int")
        ).otherwise(F.lit(0)),
    )
    return embeddings.crossJoin(F.broadcast(scales)).select(
        "vec_id", codes.alias("codes"), "scales"
    )


def quantized_cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    bits: int = 8,
) -> DataFrame:
    """Brute-force top-k over int8-reconstructed vectors (x̂_d = code_d *
    s_d / levels) — measures what a quantized store actually serves. The
    query vector is quantized too (symmetric distance, the honest
    configuration). Same TakeOrderedAndProject shape as cosine_topk."""
    levels = float((1 << (bits - 1)) - 1)
    recon = F.zip_with("codes", "scales", lambda c, s: c * s / F.lit(levels))
    r = quantize_embeddings(embeddings, bits=bits).select("vec_id", recon.alias("rvec"))
    q = _query_vec(r, query_vec_id, "rvec")
    scored = _query_scored(r.where(F.col("vec_id") != query_vec_id), q, "rvec")
    return top_k(scored, "cos_sim", "vec_id", k)


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two arrays (codegen'd, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_subvectors(embeddings: DataFrame, m: int = 8, dim: int = 64) -> DataFrame:
    """(vec_id, sub, subvec) — each vector split into ``m`` contiguous
    subspaces of dim/m dims. Pure slice+explode, narrow (no shuffle)."""
    if dim % m != 0:
        raise ValueError(
            f"dim={dim} is not divisible by m={m}: the trailing {dim % m} "
            f"dimensions would be silently dropped from every subvector"
        )
    d = dim // m
    parts = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("sub"),
                F.slice("embedding", s * d + 1, d).cast("array<double>").alias("subvec"),
            )
            for s in range(m)
        ]
    )
    return embeddings.select("vec_id", F.explode(parts).alias("p")).select(
        "vec_id", F.col("p.sub").alias("sub"), F.col("p.subvec").alias("subvec")
    )


def pq_codebooks(
    embeddings: DataFrame, m: int = 8, n_codes: int = 16, dim: int = 64
) -> DataFrame:
    """Seed PQ codebooks (sub, code_id, c_vec): subspace s's codewords are
    the first ``n_codes`` vectors' s-th subvectors — deterministic-first,
    the same oracle-checkable init as :func:`seed_centroids`. Use
    :func:`pq_train_codebooks` for Lloyd-refined codebooks."""
    return pq_subvectors(embeddings.where(F.col("vec_id") < n_codes), m, dim).select(
        "sub", F.col("vec_id").cast("int").alias("code_id"), F.col("subvec").alias("c_vec")
    )


def _pq_nearest(sv: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(vec_id, sub, code_id, dist): each subvector's L2-nearest codeword —
    broadcast codebook scoring, then one map-side-combined groupBy on
    (vec_id, sub). Deterministic argmin: min over (dist, code_id) breaks
    ties toward the smaller code id (mirrors the oracle's ORDER BY dist,
    code_id)."""
    scored = sv.join(F.broadcast(codebooks), "sub").select(
        "vec_id",
        "sub",
        "code_id",
        F.round(_l2sq(F.col("subvec"), F.col("c_vec")), 6).alias("dist"),
    )
    best = scored.groupBy("vec_id", "sub").agg(F.min(F.struct("dist", "code_id")).alias("_b"))
    return best.select(
        "vec_id",
        "sub",
        F.col("_b.code_id").alias("code_id"),
        F.col("_b.dist").alias("dist"),
    )


def pq_encode(embeddings: DataFrame, codebooks: DataFrame, m: int = 8, dim: int = 64) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): per (vector,
    subspace), the L2-nearest codeword — (vec_id, sub, code_id, dist).

    Scale shape at 10^9 vectors: the codebook is m x k rows (128 here,
    4096 at PQ64x256) and is BROADCAST; scoring explodes each vector to m
    subvector rows (narrow) and the argmin is one map-side-combined
    groupBy on (vec_id, sub) — a vector's m rows start co-partitioned, so
    the partial aggregation collapses them before the exchange. No
    windows, no UDFs; distances are codegen'd zip_with folds. Storage
    story: m codes x log2(k) bits replaces dim floats (here 8 bytes vs
    256 — the 32x compression PQ exists for)."""
    return _pq_nearest(pq_subvectors(embeddings, m, dim), codebooks)


def pq_code_histogram(
    embeddings: DataFrame, m: int = 8, n_codes: int = 16, dim: int = 64
) -> DataFrame:
    """Codebook utilization of the seed codebooks: (sub, code_id, n_vecs)
    — the index-health dashboard for a PQ deployment (a dead codeword
    wastes a code point; a hot one degrades ADC resolution)."""
    codes = pq_encode(embeddings, pq_codebooks(embeddings, m, n_codes, dim), m, dim)
    return codes.groupBy("sub", "code_id").agg(F.count(F.lit(1)).alias("n_vecs"))


def _adc_scores(
    codes: DataFrame,
    codebooks: DataFrame,
    embeddings: DataFrame,
    query_vec_id: int,
    m: int,
    dim: int,
) -> DataFrame:
    """(vec_id, adc_score) of every vector in ``codes`` but the query: the
    query's raw subvectors dot every codeword into an m x k lookup table
    (LUT), broadcast to the codes and summed per vector by one
    map-side-combined groupBy(vec_id)."""
    qsv = pq_subvectors(embeddings.where(F.col("vec_id") == query_vec_id), m, dim).select(
        "sub", F.col("subvec").alias("q_sub")
    )
    lut = codebooks.join(F.broadcast(qsv), "sub").select(
        "sub", "code_id", F.round(dot(F.col("c_vec"), F.col("q_sub")), 6).alias("part")
    )
    return (
        codes.where(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(lut), ["sub", "code_id"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("part"), 6).alias("adc_score"))
    )


def pq_search_adc(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the FAISS IVFADC
    search half: score(v) = Σ_sub lut[sub][code(v,sub)] where the lookup
    table holds the RAW query subvector's dot product with every codeword
    (query stays unquantized; only the database side is coded).

    Scale shape: the LUT is m x k rows computed from one broadcast of the
    query — broadcast again to the codes table, so search is a broadcast
    hash join + one map-side-combined groupBy(vec_id) + top-k
    (TakeOrderedAndProject). The codes table is the only big operand and
    it is 32x smaller than the raw vectors — that, plus never shipping
    vectors to the scorer, is why PQ serves 10^9-vector indexes from RAM.
    Returns (vec_id, adc_score, rank) — scores approximate the dot
    product; rescore the top-k against raw vectors when exactness
    matters (cf. :func:`ivf_search` composition)."""
    cb = codebooks if codebooks is not None else pq_codebooks(embeddings, m, n_codes, dim)
    codes = pq_encode(embeddings, cb, m, dim)
    scored = _adc_scores(codes, cb, embeddings, query_vec_id, m, dim)
    return top_k(scored, "adc_score", "vec_id", k)


def ivfpq_search(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 10,
    n_probe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011, the FAISS default at 10^9 vectors):
    coarse IVF probe picks n_probe inverted lists, ADC scores ONLY the
    PQ codes inside them — the two scale levers composed: scanned
    fraction ≈ n_probe/n_centroids AND each scanned item is m codes, not
    dim floats (~scan_cost x (n_probe/n_list) x (m·log2(k)/32·dim) vs
    brute force).

    Plan shape: centroid scoring and the LUT are broadcasts; the list
    restriction is a broadcast semi-join on the codes table; scoring is
    one map-side-combined groupBy(vec_id); top-k is
    TakeOrderedAndProject. The raw vectors are read once (to encode);
    a deployed index would persist ``pq_encode``'s output and never
    touch them at query time."""
    q = _query_vec(embeddings, query_vec_id, "embedding")
    probed = _probed_ids(embeddings, q, n_centroids, n_probe, centroids)
    cb = codebooks if codebooks is not None else pq_codebooks(embeddings, m, n_codes, dim)
    codes = pq_encode(embeddings, cb, m, dim).join(probed, "vec_id", "left_semi")
    scored = _adc_scores(codes, cb, embeddings, query_vec_id, m, dim)
    return top_k(scored, "adc_score", "vec_id", k)


def pq_search_rescored(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10, shortlist: int = 100
) -> DataFrame:
    """The deployed PQ shape (FAISS "refine"): ADC over the seed PQ8x16
    codebooks produces a SHORTLIST of
    ``shortlist`` candidates from the compressed codes, then only those
    rows' RAW vectors are fetched and exactly re-scored for the final
    top-k. At 10^9 vectors the exact pass touches ``shortlist`` vectors
    instead of 10^9 — the compressed index does the winnowing, the raw
    store serves point lookups. Returns (vec_id, cos_sim, rank) like
    :func:`cosine_topk`. Measured recall for all three PQ configurations
    is in BENCH/BASELINE.md — note the synthetic near-orthogonal test
    embeddings are PQ-adversarial (similarity margins are razor-thin, so
    coarse codes lose rank order); real model embeddings concentrate on a
    manifold where the same configs score far higher."""
    sl = pq_search_adc(embeddings, query_vec_id, shortlist).select("vec_id")
    q = _query_vec(embeddings, query_vec_id, "embedding")
    scored = _query_scored(embeddings.join(sl, "vec_id", "left_semi"), q, "embedding")
    return top_k(scored, "cos_sim", "vec_id", k)


def pq_train_codebooks(
    embeddings: DataFrame, m: int = 8, n_codes: int = 16, iters: int = 2, dim: int = 64
) -> DataFrame:
    """Lloyd-refined PQ codebooks: k-means per subspace, ALL subspaces
    trained in one grouped job (the per-subspace problems share every
    shuffle — keys are (sub, code_id), never m separate jobs).

    Per round: broadcast the m x k codebooks, argmin-assign each subvector
    (one map-side-combined groupBy), recompute codewords at (sub, code,
    dim) grain, the same :func:`_lloyd_means` as :func:`kmeans_train`.
    Empty codes keep their previous codeword (left-join coalesce), so the
    codebook stays exactly m x k.
    Each round is materialized and the previous one freed; the last
    round's codebooks are the caller's owned result (``unpersist()``
    them when done)."""
    from ..caching import materialize_scope, owned_result

    sv = pq_subvectors(embeddings, m, dim)
    cb = pq_codebooks(embeddings, m, n_codes, dim)
    with materialize_scope() as scope:
        for i in range(iters):
            assigned = _pq_nearest(sv, cb).select("vec_id", "sub", "code_id")
            members = sv.join(assigned, ["vec_id", "sub"])
            means = _lloyd_means(members, ["sub", "code_id"], "subvec", "new_vec")
            new_cb = cb.join(means, ["sub", "code_id"], "left").select(
                "sub", "code_id", F.coalesce("new_vec", "c_vec").alias("c_vec")
            )
            if i + 1 < iters:  # the last round becomes the caller's result
                new_cb = scope.keep(new_cb)
                scope.free(cb)
            cb = new_cb
        return owned_result(cb)


def embedding_moments(embeddings: DataFrame) -> DataFrame:
    """Distributed second-moment statistics — the "fit" half of PCA /
    whitening over an embedding corpus: per-partition numpy partials
    (count, per-dim sums, X^T X) via one Arrow-batched ``mapInPandas``
    pass, then a groupBy over the d*(d+1)/2 upper-triangle keys.

    Scale story: the shuffle moves only d*(d+1)/2 rows PER PARTITION
    (d=64 -> 2080), never the vectors — at 10^9 x 64 the reduce input is
    ~2080 x n_partitions rows regardless of corpus size, the canonical
    outer-product-aggregation shape for distributed covariance. The
    matmul is one float64 BLAS call per Arrow batch.

    Returns (i, j, n_vecs, mean_i, mean_j, cov_ij) for 0 <= i <= j < d,
    population covariance (biased, /N), rounded to 6 decimals so the
    DuckDB oracle replays it exactly.
    """

    def _partials(batches):
        n = 0
        s = None
        ss = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            ss = x.T @ x if ss is None else ss + x.T @ x
        if n == 0:
            return
        d = s.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "n": np.full(iu.shape[0], n, dtype="int64"),
                "s_i": s[iu],
                "s_j": s[ju],
                "ss": ss[iu, ju],
            }
        )

    partials = embeddings.select("embedding").mapInPandas(
        _partials, "i int, j int, n long, s_i double, s_j double, ss double"
    )
    agg = partials.groupBy("i", "j").agg(
        F.sum("n").alias("n_vecs"),
        F.sum("s_i").alias("s_i"),
        F.sum("s_j").alias("s_j"),
        F.sum("ss").alias("ss"),
    )
    mean_i = F.col("s_i") / F.col("n_vecs")
    mean_j = F.col("s_j") / F.col("n_vecs")
    # + 0.0 folds IEEE -0.0 (a tiny negative covariance rounded to zero)
    # into +0.0 — the value-hash gate stringifies the sign
    return agg.select(
        "i",
        "j",
        "n_vecs",
        (F.round(mean_i, 6) + 0.0).alias("mean_i"),
        (F.round(mean_j, 6) + 0.0).alias("mean_j"),
        (F.round(F.col("ss") / F.col("n_vecs") - mean_i * mean_j, 6) + 0.0).alias("cov_ij"),
    )


def pca_project(embeddings: DataFrame, k: int = 8) -> DataFrame:
    """PCA embedding compression: fit = ``embedding_moments`` (one
    distributed pass), eigendecomposition of the d x d covariance on the
    DRIVER (d=64: microseconds — the only driver-side math, on a matrix
    whose size is independent of corpus size), transform = one
    broadcast-component matmul per Arrow batch.

    Component sign is fixed deterministically (largest-|loading|
    coordinate made positive, index tie-break) so projections are
    reproducible across runs/partitionings. Returns the input plus
    ``projection array<double>`` (length k, centered data x top-k
    eigenvectors, descending eigenvalue order).
    """
    rows = embedding_moments(embeddings).select("i", "j", "n_vecs", "mean_i", "cov_ij").collect()  # d*(d+1)/2 rows
    d = max(r["j"] for r in rows) + 1
    cov = np.zeros((d, d))
    mean = np.zeros(d)
    for r in rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov_ij"]
        mean[r["i"]] = r["mean_i"]
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order]  # d x k
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(comps.shape[1])])
    flip[flip == 0] = 1.0
    comps = comps * flip

    def _project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            proj = (x - mean) @ comps
            out = pdf.copy()
            out["projection"] = list(proj)
            yield out

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in embeddings.schema.fields)
    return embeddings.mapInPandas(_project, f"{fields}, projection array<double>")
