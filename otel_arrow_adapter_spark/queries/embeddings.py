"""Vector queries over ``embeddings``: top-k, ANN pair finders, IVF,
k-means, product quantization, SemDeDup and PCA moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import materialize_scope, owned_result
from ..functions.dedup import dup_clusters
from ..functions.similarity import (
    ann_pairs,
    ann_pairs_banded,
    ann_pairs_multiprobe,
    assign_to_centroids,
    cosine_topk,
    embedding_moments,
    ivf_assign,
    ivf_search,
    ivfpq_search,
    kmeans_train,
    pq_code_histogram,
    pq_search_adc,
    quantized_cosine_topk,
    semdedup,
)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with its float vectors cast to array<double>."""
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def q_emb_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized brute-force top-10: per-dim symmetric scales
    (O(dim) global state, broadcast back), floor(x/s*127+0.5) codes,
    cosine over reconstructions — what a quantized vector store serves.
    Engine-portable arithmetic (floor half-up), full SQL replay."""
    e = _embeddings(spark, sf_dir)
    return quantized_cosine_topk(e, query_vec_id=0, k=10, bits=8)


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings(spark, sf_dir)
    return cosine_topk(e, query_vec_id=0, k=10)


def q_emb_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings(spark, sf_dir)
    return (
        ivf_assign(e, n_centroids=10)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.round(F.avg("cos_sim"), 4).alias("avg_sim"))
    )


def q_emb_ann_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings(spark, sf_dir)
    return ann_pairs(e, threshold=0.25, m=8)


def q_emb_ann_pairs_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: candidates = bucket hamming <= 1 (exact side
    joins the probe side's exact+flip keys) — higher recall than the
    exact-bucket join at the same m, still never all-pairs."""
    e = _embeddings(spark, sf_dir)
    return ann_pairs_multiprobe(e, threshold=0.25, m=8)


def q_emb_ivf_search_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF end-to-end: Lloyd-trained coarse centroids (2 iterations, 5
    seeds) feeding the probed top-k search — train -> index -> search
    composed in one lineage. The oracle replays the training iterations
    (unnormalized: cosine ranking is scale-invariant) then the probe +
    exact rescore; final scores are computed from raw stored vectors."""
    e = _embeddings(spark, sf_dir)
    with materialize_scope() as m:
        cents = m.own(kmeans_train(e, n_centroids=5, iters=2))
        return owned_result(ivf_search(e, query_vec_id=0, k=10, n_probe=2, centroids=cents))


def q_emb_ann_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-real ANN: multi-table banded sign-LSH (m=16 bits x 4 disjoint
    dimension blocks = all 64 dims), near-duplicate threshold 0.9, over the
    embeddings plus planted exact duplicates (every 5th vector re-labeled
    +100000) so the near-dup regime is actually exercised. Axis signs are
    pure comparisons on stored values — bit-portable to the oracle."""
    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    dup = e.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return ann_pairs_banded(e.unionByName(dup), threshold=0.9, m=16, n_tables=4)


def q_emb_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space duplicate CLUSTERS: banded sign-LSH near-dup pairs
    (cos >= 0.9, incl. planted exact duplicates) resolved into connected
    components — the same min-label propagation as doc_dup_clusters, shown
    generic over any pair finder. Oracle: recursive-CTE closure over the
    exact SQL replay of the banded candidate + cosine-verify pipeline."""
    with materialize_scope() as m:
        pairs = m.keep(q_emb_ann_pairs_banded(spark, sf_dir))
        return dup_clusters(pairs, a_col="vec_a", b_col="vec_b", id_name="vec_id")


def q_emb_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k search: probe the 2 nearest of 10 coarse centroids, exact
    cosine only inside those clusters (scanned fraction ~ n_probe/n_list)."""
    e = _embeddings(spark, sf_dir)
    return ivf_search(e, query_vec_id=0, k=10, n_centroids=10, n_probe=2)


def q_emb_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (2 iterations, 5 seed centroids) + final
    assignment census. The DuckDB oracle replays both Lloyd iterations in
    SQL — cosine is scale-invariant, so it can skip the L2-normalization
    step and assignments still match. Integer outputs (cluster sizes, dim)
    keep the value hash robust to last-ulp float accumulation differences;
    convergence/normalization are pytest-gated (test_kmeans_*)."""
    e = _embeddings(spark, sf_dir)
    with materialize_scope() as m:
        cents = m.own(kmeans_train(e, n_centroids=5, iters=2))
        census = assign_to_centroids(e, cents).groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("n_vecs")
        )
        out = census.join(
            cents.select("centroid_id", F.size("c_vec").alias("dim")), "centroid_id"
        ).select("centroid_id", "n_vecs", "dim")
        return owned_result(out)


def q_emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings (seed centroids,
    oracle-checkable), then drop vectors whose cosine to an earlier
    cluster-mate (ascending centroid-similarity scan order) >= 0.35 —
    the kept representative of each duplicate group is its least-central
    member. Cluster-bounded pairwise, never all-pairs. The synthetic
    embeddings are near-orthogonal, hence the low threshold (real model
    embeddings use ~0.95)."""
    e = _embeddings(spark, sf_dir)
    return semdedup(e, n_clusters=10, threshold=0.35)


def q_emb_pca_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA fit statistics: mean + population covariance of the
    64-dim embedding corpus via per-partition numpy partials (count,
    sums, X^T X upper triangle) and one 2080-key groupBy — the shuffle
    moves d*(d+1)/2 rows per partition, never the vectors."""
    e = _embeddings(spark, sf_dir)
    return embedding_moments(e)


def q_emb_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (FAISS's billion-vector default, Jégou et al. 2011): coarse
    IVF probe of 2/10 lists, then asymmetric-distance PQ scoring ONLY
    inside them — scanned fraction ~ n_probe/n_list AND each item is 8
    codes instead of 64 floats. Broadcast centroids/LUT, semi-join list
    restriction, one groupBy(vec_id), TakeOrderedAndProject."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivfpq_search(
        e, query_vec_id=0, k=10, n_centroids=10, n_probe=2, m=8, n_codes=16, dim=64
    )


def q_emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011) + codebook
    utilization: 8 subspaces x 16 seed codewords, L2-argmin codes, grouped
    to (sub, code_id, n_vecs). Broadcast codebook + one map-side-combined
    groupBy — the 32x-compression storage path of a 10^9-vector index.
    Oracle: identical slice/argmin arithmetic via range() joins."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_code_histogram(e, m=8, n_codes=16, dim=64)


def q_emb_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-10 for query vec 0: broadcast
    m x k lookup table of query-subvector dot codeword, scores = one
    groupBy(vec_id) sum over the CODES table (32x smaller than the raw
    vectors — why PQ serves billion-vector indexes from RAM)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_search_adc(e, query_vec_id=0, k=10, m=8, n_codes=16, dim=64)
