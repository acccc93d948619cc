"""Training-data operator tests: text analysis, dedup, similarity, multimodal."""

import pyspark.sql.functions as F
import pytest
from conftest import no_new_persistent_rdds

from otel_arrow_adapter_spark.functions.dedup import (
    exact_duplicates,
    jaccard_pairs,
    lsh_candidates,
    minhash_signature,
    simhash_near_dups,
)
from otel_arrow_adapter_spark.functions.similarity import ann_pairs, cosine_topk, ivf_assign
from otel_arrow_adapter_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    base = docs.select("doc_id", "text")
    exact = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = base.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail token")).alias("text"),
    )
    return base.unionByName(exact).unionByName(near).cache()


def test_token_count_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world foo"), (2, ""), (3, "  hello world FOO  ")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            token_count(F.col("text")).alias("n"),
            fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert rows[1].n == 3 and rows[2].n == 0
    # fingerprint is whitespace/case-insensitive -> 1 and 3 collide
    assert rows[1].fp == rows[3].fp


def test_lang_id_profiles(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat of the mat and a dog"),
            (2, "der hund und die katze und das haus"),
            (3, "le chat et la maison et les chiens"),
            (4, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    rows = dict(df.select("doc_id", lang_id(F.col("text")).alias("l")).collect())
    assert rows == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_score_bounds(spark, docs):
    qs = docs.select(quality_score(F.col("text")).alias("q"))
    mn, mx = qs.agg(F.min("q"), F.max("q")).collect()[0]
    assert 0.0 <= mn <= mx <= 1.0


def test_exact_duplicates_found(spark, docs_with_dups):
    groups = exact_duplicates(docs_with_dups).collect()
    # every doc_id%10==0 original got an exact copy
    n_expected = docs_with_dups.where(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
    ).count()
    assert len(groups) == n_expected
    assert all(g.n_docs == 2 for g in groups)


def test_minhash_lsh_finds_near_dups(spark, docs_with_dups):
    sig = minhash_signature(docs_with_dups, num_hashes=8)
    cand = lsh_candidates(sig, num_hashes=8, bands=4)
    verified = jaccard_pairs(docs_with_dups, threshold=0.5, candidates=cand)
    pairs = {(r.doc_a, r.doc_b) for r in verified.collect()}
    # every near-copy pair (x, x+200000) with jaccard >= .5 must be found
    truth = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs_with_dups, threshold=0.5).collect()
    }
    # LSH with 4 bands of 2 on jaccard>=0.9 pairs: recall should be total here
    high = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs_with_dups, threshold=0.9).collect()
    }
    assert high <= pairs <= truth
    assert len(high) > 0


def test_simhash_near_dups(spark, docs_with_dups):
    pairs = simhash_near_dups(docs_with_dups, max_hamming=3)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    exact_pairs = {
        (r.doc_id, r.doc_id + 100000)
        for r in docs_with_dups.where(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
        ).collect()
    }
    # identical docs have hamming 0 -> always found
    assert exact_pairs <= got


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .cache()
    )


def test_cosine_topk(spark, emb):
    top = cosine_topk(emb, query_vec_id=0, k=5).collect()
    assert len(top) == 5
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)
    assert all(r.vec_id != 0 for r in top)


def test_ann_recall_vs_bruteforce(spark, emb):
    """Sign-LSH candidates must contain every same-bucket true pair; verify
    ANN results are a subset of brute-force threshold pairs."""
    approx = {(r.vec_a, r.vec_b) for r in ann_pairs(emb, threshold=0.25, m=4).collect()}
    from otel_arrow_adapter_spark.functions.similarity import cosine

    l, r = emb.alias("l"), emb.alias("r")
    brute = {
        (row.vec_a, row.vec_b)
        for row in (
            l.join(r, F.col("l.vec_id") < F.col("r.vec_id"))
            .select(
                F.col("l.vec_id").alias("vec_a"),
                F.col("r.vec_id").alias("vec_b"),
                cosine(F.col("l.embedding"), F.col("r.embedding")).alias("c"),
            )
            .where(F.col("c") >= 0.25)
        ).collect()
    }
    assert approx <= brute
    assert len(approx) > 0


def test_ivf_assign_total(spark, emb):
    assigned = ivf_assign(emb, n_centroids=10)
    assert assigned.count() == emb.count()
    # seed vectors assign to themselves (cos=1 is max)
    self_rows = {r.vec_id: r.centroid_id for r in assigned.where(F.col("vec_id") < 10).collect()}
    assert all(v == c for v, c in self_rows.items())


def test_multimodal_plumbing(spark):
    from otel_arrow_adapter_spark.functions.multimodal import (
        extract_features,
        frame_sample,
        synthesize_media,
        FEATURE_DIM,
    )

    media = synthesize_media(spark, n=50)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r.features) == FEATURE_DIM for r in rows)
    # deterministic: same payload -> same features
    again = {r.media_id: r.features for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.features for r in rows)
    fs = frame_sample(media, every_n=1)
    metas = {r.media_id: r.meta.n_frames for r in media.select("media_id", "meta").collect()}
    assert fs.count() == sum(metas.values())  # one row per frame at stride 1
    fs2 = {r.media_id: 0 for r in fs.collect()}
    for r in frame_sample(media, every_n=2).collect():
        fs2[r.media_id] += 1
    assert all(fs2[m] == (n + 1) // 2 for m, n in metas.items())  # stride-2 sampling


def test_jaccard_candidates_bound_the_join(spark, docs_with_dups):
    """The candidate set must bound the inverted-index self-join BEFORE it
    runs (left-semi to the candidate doc ids), not just filter pairs after
    the aggregate — and results must equal the unbounded path intersected
    with the candidate pairs."""
    sig = minhash_signature(docs_with_dups, num_hashes=8)
    cand = lsh_candidates(sig, num_hashes=8, bands=4)
    out = jaccard_pairs(docs_with_dups, threshold=0.5, candidates=cand)
    # owned_result truncates the returned frame's lineage to a LogicalRDD;
    # the plan gate inspects the un-truncated producing plan it exposes
    plan = out.pre_checkpoint._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan
    got = {(r.doc_a, r.doc_b, r.jaccard) for r in out.collect()}
    unbounded = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs(docs_with_dups, threshold=0.5).collect()
    }
    cand_set = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert got == {t for t in unbounded if (t[0], t[1]) in cand_set}


def test_rank_core_ties_overflow_and_dict_codes(spark):
    """The windowless rank behind every top-k search and dense dimension:
    tied scores rank by ascending key, a k above the candidate count
    returns every candidate ranked 1..n, and start=0/id_type="int" gives
    dict_encode_column's dictionary codes."""
    from otel_arrow_adapter_spark.operators.normalize import ranked_dim, top_k

    scored = spark.createDataFrame(
        [(7, 0.5), (3, 0.9), (5, 0.5), (1, 0.5), (9, 0.1)], "key long, score double"
    )
    top = top_k(scored, "score", "key", 3)
    assert dict(top.dtypes)["rank"] == "int"
    assert [tuple(r) for r in top.orderBy("rank").collect()] == [
        (3, 0.9, 1), (1, 0.5, 2), (5, 0.5, 3)
    ]
    every = top_k(scored, "score", "key", 50).orderBy("rank").collect()
    assert [r.key for r in every] == [3, 1, 5, 7, 9]
    assert [r.rank for r in every] == [1, 2, 3, 4, 5]

    vals = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], "v string")
    codes = ranked_dim(vals, ("v",), "v_code", id_type="int", start=0)
    assert dict(codes.dtypes)["v_code"] == "int"
    assert sorted(tuple(r) for r in codes.collect()) == [("a", 0), ("b", 1), ("c", 2)]


def test_cosine_topk_distributed_plan(spark, emb):
    """Top-k must compile to a distributed partial top-k (TakeOrdered /
    Limit), never a single-partition global row_number window over n rows."""
    top = cosine_topk(emb, query_vec_id=0, k=5)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan


def test_kmeans_train_converges_and_normalizes(spark, emb):
    from otel_arrow_adapter_spark.functions.similarity import (
        kmeans_inertia,
        kmeans_train,
        seed_centroids,
    )

    seeds = seed_centroids(emb, 5).select(
        "centroid_id",
        F.transform(
            "c_vec",
            lambda x: x / F.sqrt(F.aggregate("c_vec", F.lit(0.0), lambda a, y: a + y * y)),
        ).alias("c_vec"),
    )
    trained = kmeans_train(emb, n_centroids=5, iters=3)
    # Lloyd must not worsen the objective vs the seed centroids
    assert kmeans_inertia(emb, trained) <= kmeans_inertia(emb, seeds) + 1e-9
    # centroids stay L2-normalized (cosine geometry)
    norms = trained.select(
        F.aggregate("c_vec", F.lit(0.0), lambda a, x: a + x * x).alias("n"),
        F.size("c_vec").alias("dim"),
    ).collect()
    assert all(abs(r["n"] - 1.0) < 1e-6 for r in norms)
    # shape invariant (was an assert inside the training loop): every
    # centroid keeps the full input dimensionality
    assert all(r["dim"] == 64 for r in norms)


def test_ivf_search_full_probe_equals_bruteforce(spark, emb):
    """n_probe == n_centroids degrades IVF to exact search — must equal
    the brute-force top-k exactly."""
    from otel_arrow_adapter_spark.functions.similarity import ivf_search

    exact = [(r.vec_id, r.cos_sim, r.rank) for r in cosine_topk(emb, 0, k=5).collect()]
    full = [
        (r.vec_id, r.cos_sim, r.rank)
        for r in ivf_search(emb, 0, k=5, n_centroids=10, n_probe=10).collect()
    ]
    assert full == exact
    # partial probe returns a subset-quality result: k rows, sims from the
    # probed clusters only, still sorted
    part = ivf_search(emb, 0, k=5, n_centroids=10, n_probe=2).collect()
    assert len(part) == 5
    sims = [r.cos_sim for r in part]
    assert sims == sorted(sims, reverse=True)


def test_multiprobe_recall_dominates_exact_bucket(spark, emb):
    from otel_arrow_adapter_spark.functions.similarity import ann_pairs_multiprobe, cosine

    exact_bucket = {(r.vec_a, r.vec_b) for r in ann_pairs(emb, threshold=0.25, m=8).collect()}
    multi = {(r.vec_a, r.vec_b) for r in ann_pairs_multiprobe(emb, threshold=0.25, m=8).collect()}
    assert exact_bucket <= multi  # strictly more recall at the same m
    l, r = emb.alias("l"), emb.alias("r")
    brute = {
        (row.vec_a, row.vec_b)
        for row in (
            l.join(r, F.col("l.vec_id") < F.col("r.vec_id"))
            .select(
                F.col("l.vec_id").alias("vec_a"),
                F.col("r.vec_id").alias("vec_b"),
                cosine(F.col("l.embedding"), F.col("r.embedding")).alias("c"),
            )
            .where(F.col("c") >= 0.25)
        ).collect()
    }
    assert multi <= brute


def test_simhash_hot_bucket_cap(spark, docs_with_dups):
    """The super-frequent-block guard: capped results are a subset of the
    uncapped pairs, and exact-duplicate pairs (hamming 0) survive a
    moderate cap (they match on all 4 chunks, so one surviving block
    suffices)."""
    uncapped = {(r.doc_a, r.doc_b) for r in simhash_near_dups(docs_with_dups, 3).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_dups(docs_with_dups, 3, max_bucket_size=500).collect()
    }
    assert capped <= uncapped
    exact_pairs = {
        (r.doc_id, r.doc_id + 100000)
        for r in docs_with_dups.where(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
        ).collect()
    }
    assert exact_pairs <= capped


@pytest.fixture(scope="module")
def emb_with_dups(spark, emb):
    base = emb.select("vec_id", "embedding")
    dup = base.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return base.unionByName(dup).cache()


def test_ann_banded_planted_recall_and_subset(spark, emb_with_dups):
    """Multi-table banded sign-LSH: exact duplicates collide in EVERY
    table -> planted-pair recall is 1.0; and everything found is a true
    >= threshold pair (subset of brute force)."""
    from otel_arrow_adapter_spark.functions.similarity import (
        ann_pairs_banded,
        brute_force_pairs,
    )

    found = {
        (r.vec_a, r.vec_b)
        for r in ann_pairs_banded(emb_with_dups, threshold=0.9, m=16, n_tables=4).collect()
    }
    planted = {
        (r.vec_id, r.vec_id + 100000)
        for r in emb_with_dups.where(
            (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 100000)
        ).collect()
    }
    assert planted <= found
    brute = {
        (r.vec_a, r.vec_b)
        for r in brute_force_pairs(emb_with_dups, threshold=0.9).collect()
    }
    assert found <= brute


def test_ann_projected_deterministic_planted_subset(spark, emb_with_dups):
    """Random-projection banded LSH (the m·L > dim scale config): seeded ->
    two runs identical; planted exact dups project identically in every
    table -> found; results subset of brute force."""
    from otel_arrow_adapter_spark.functions.similarity import (
        ann_pairs_projected,
        brute_force_pairs,
    )

    run = lambda: {  # noqa: E731
        (r.vec_a, r.vec_b)
        for r in ann_pairs_projected(
            emb_with_dups, threshold=0.9, m=24, n_tables=4, seed=7
        ).collect()
    }
    a, b = run(), run()
    assert a == b and len(a) > 0
    planted = {
        (r.vec_id, r.vec_id + 100000)
        for r in emb_with_dups.where(
            (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 100000)
        ).collect()
    }
    assert planted <= a
    brute = {
        (r.vec_a, r.vec_b)
        for r in brute_force_pairs(emb_with_dups, threshold=0.9).collect()
    }
    assert a <= brute


def test_pack_offsets_chunking(spark):
    """Concat-and-chunk packing: offsets are contiguous per shard, chunk
    spans follow floor(offset/budget), empty docs occupy no span."""
    from otel_arrow_adapter_spark.functions.text import pack_offsets

    df = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 0), (4, 600), (5, 12)],
        "doc_id long, n_tokens long",
    )
    rows = {r.doc_id: r for r in pack_offsets(df, budget=512, n_shards=1).collect()}
    # single shard, ordered by doc_id: offsets 0,300,600,600,1200
    assert [rows[i].start_off for i in (1, 2, 3, 4, 5)] == [0, 300, 600, 600, 1200]
    assert (rows[1].first_chunk, rows[1].last_chunk) == (0, 0)
    assert (rows[2].first_chunk, rows[2].last_chunk) == (0, 1)  # straddles 512
    assert rows[3].first_chunk == rows[3].last_chunk  # empty doc: no span
    assert (rows[4].first_chunk, rows[4].last_chunk) == (1, 2)
    # sharded: every shard's offsets start at 0 and stay contiguous
    many = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tokens")
    )
    packed = pack_offsets(many, budget=16, n_shards=4)
    per_shard = packed.groupBy("shard").agg(
        F.min("start_off").alias("mn"),
        (F.max(F.col("start_off") + F.col("n_tokens"))).alias("end"),
        F.sum("n_tokens").alias("tot"),
    )
    for r in per_shard.collect():
        assert r.mn == 0 and r.end == r.tot  # contiguous, gap-free stream


def test_bpe_token_count_classes(spark):
    """BPE-ish pre-tokenizer classes: letter runs, digit runs, single
    punctuation each count once — 'don't!' is 4 tokens, not 1."""
    from otel_arrow_adapter_spark.functions.text import bpe_token_count

    df = spark.createDataFrame(
        [(1, "don't!"), (2, "abc 123 x-9"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    rows = dict(df.select("doc_id", bpe_token_count(F.col("text")).alias("n")).collect())
    # don / ' / t / !  |  abc / 123 / x / - / 9
    assert rows == {1: 4, 2: 5, 3: 0, 4: 0}


def test_dup_clusters_transitive_closure(spark):
    """Connected components over pairs: a chain a-b, b-c, c-d collapses to
    ONE cluster labeled by its min doc_id even though a-c, a-d, b-d were
    never emitted as pairs; disjoint components stay separate; every
    cluster has exactly one representative (the min id)."""
    from otel_arrow_adapter_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "doc_a long, doc_b long",
    )
    rows = {r.doc_id: r for r in dup_clusters(pairs).collect()}
    assert set(rows) == {1, 2, 3, 4, 10, 11, 20, 21}
    assert {rows[i].cluster_id for i in (1, 2, 3, 4)} == {1}
    assert {rows[i].cluster_id for i in (10, 11)} == {10}
    assert {rows[i].cluster_id for i in (20, 21)} == {20}
    assert all(rows[i].cluster_size == 4 for i in (1, 2, 3, 4))
    assert rows[10].cluster_size == 2
    assert sorted(i for i in rows if rows[i].is_rep) == sorted(
        {r.cluster_id for r in rows.values()}
    )


def test_dup_clusters_chain_linear_plan_growth(spark):
    """Long-chain regression: a 13-node path needs 12 propagation rounds —
    with persist-only rounds the plan nests one
    InMemoryRelation-of-AdaptiveSparkPlan deeper per round (persist
    truncates execution, not the plan) and plan rendering for the SQL
    listener grows superlinearly: measured 1.1 s → 9.7 s per round by
    round 10, 244 s total on this chain. localCheckpoint truncation keeps
    every round flat, so the final plan must be a constant-size LogicalRDD
    and total wall-clock far under the persist-only behavior."""
    import time

    from otel_arrow_adapter_spark.functions.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(12)], "doc_a long, doc_b long"
    )
    t0 = time.perf_counter()
    out = dup_clusters(chain)
    rows = {r.doc_id: r for r in out.collect()}
    elapsed = time.perf_counter() - t0
    assert set(rows) == set(range(13))
    assert all(r.cluster_id == 0 and r.cluster_size == 13 for r in rows.values())
    assert [i for i in rows if rows[i].is_rep] == [0]
    plan_chars = len(out._jdf.queryExecution().analyzed().treeString())
    out.unpersist()
    assert plan_chars < 100_000, plan_chars  # exponential form: millions
    assert elapsed < 120, elapsed  # exponential form: minutes of treeString


def test_dup_clusters_chain_past_step_bound_raises(spark):
    """A path whose diameter exceeds the propagation-step bound fails
    loudly (it used to return a path of 30 split into 10 clusters) and
    leaves nothing behind; a path within the bound is still one cluster."""
    from otel_arrow_adapter_spark.functions.dedup import CC_MAX_STEPS, dup_clusters

    def path(n):
        return spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")

    assert CC_MAX_STEPS < 29
    with no_new_persistent_rdds(spark, "dup_clusters long chain"):
        with pytest.raises(RuntimeError, match="still changing"):
            dup_clusters(path(30))
    out = dup_clusters(path(10))
    assert {(r.cluster_id, r.cluster_size) for r in out.collect()} == {(0, 10)}
    out.unpersist()


def _bag_equal(x, y):
    assert x.schema == y.schema
    assert x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0


def test_lsh_jaccard_pairs_equals_long_table_path(spark, docs_with_dups):
    """The doc-grain signature table (one aggregation for each doc's shingle
    set and signature) finds and verifies exactly the pairs of the
    long-table path: minhash_signature -> lsh_candidates -> jaccard_pairs
    with candidates, which rebuilds the candidate docs' sets itself."""
    from otel_arrow_adapter_spark.functions.dedup import lsh_jaccard_pairs

    cand = lsh_candidates(minhash_signature(docs_with_dups))
    long_path = jaccard_pairs(docs_with_dups, candidates=cand)
    one_table = lsh_jaccard_pairs(docs_with_dups)
    assert one_table.count() > 0
    _bag_equal(one_table, long_path)
    for df in (one_table, long_path, cand):
        df.unpersist()


def test_dup_clusters_null_ids_and_chain(spark):
    """The join-free first label step gives the rows the edges-join step
    gave: a 5-node chain is one cluster, and null ids are kept as they were
    (a null node takes its partners' min label; a (null, null) pair adds
    nothing). Expected rows recorded from the edges-join implementation."""
    from otel_arrow_adapter_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (3, 2), (3, 4), (5, 4), (7, None), (None, 8), (None, None), (10, 11)],
        "doc_a long, doc_b long",
    )
    out = dup_clusters(pairs)
    got = sorted((tuple(r) for r in out.collect()), key=str)
    out.unpersist()
    assert got == [
        (1, 1, 5, True), (10, 10, 2, True), (11, 10, 2, False), (2, 1, 5, False),
        (3, 1, 5, False), (4, 1, 5, False), (5, 1, 5, False), (7, 7, 2, True),
        (8, 8, 1, True), (None, 7, 2, None),
    ]


def test_count_min_sketch_from_vocabulary_equals_stream(spark, docs):
    """A sketch summed from the type-grain vocabulary has the cells, and
    the schema, of the sketch counted over the token stream."""
    from otel_arrow_adapter_spark.functions.sketches import count_min_sketch
    from otel_arrow_adapter_spark.functions.text import token_rows, type_counts

    toks = token_rows(docs, "text")
    _bag_equal(
        count_min_sketch(type_counts(toks, "n"), key_col="tok", count_col="n"),
        count_min_sketch(toks, key_col="tok"),
    )


def test_no_lingering_caches_after_queries(spark):
    """Cache-lifecycle contract (caching.materialize_scope): every query
    whose plan materializes intermediates frees them once its result
    materializes — after the consuming action + result.unpersist(), the
    session holds no NEW persistent RDDs (pre-existing fixture caches are
    excluded)."""
    import __spark_entry__ as entry

    sf_dir = "/root/testdata/sf0.001"
    for name in [
        "doc_lsh_candidates",
        "doc_jaccard_pairs",
        "doc_dup_clusters",
        "doc_clean_corpus_near",
        "doc_leakage_free_split",
        "doc_incremental_dedup",
        "doc_simhash_near_dups",
        "emb_dup_clusters",
        "emb_kmeans_centroids",
        "emb_ivf_search_trained",
        "pipeline_metrics_dp_records",
        "pipeline_metrics_exp_hist_merge",
        "pipeline_trace_records",
    ]:
        with no_new_persistent_rdds(spark, name):
            res = entry.QUERIES[name](spark, sf_dir)
            res.collect()  # the consuming action
            res.unpersist()


def test_no_lingering_caches_after_iterative_trainers(spark, emb):
    """The iterative trainers free every round: nothing of ``bpe_train``
    outlives the call, nothing of ``pq_train_codebooks`` outlives the
    result's ``unpersist()``."""
    from otel_arrow_adapter_spark.functions.bpe import bpe_train
    from otel_arrow_adapter_spark.functions.similarity import pq_train_codebooks

    docs = spark.createDataFrame(
        [(i, "low lower newest widest " * (i + 1)) for i in range(4)], "doc_id long, text string"
    )
    with no_new_persistent_rdds(spark, "bpe_train"):
        assert bpe_train(docs, n_merges=4)
    emb.count()  # the fixture's own cache is not the trainer's
    with no_new_persistent_rdds(spark, "pq_train_codebooks"):
        trained = pq_train_codebooks(emb, m=8, n_codes=8, iters=2, dim=64)
        assert trained.count() == 8 * 8
        trained.unpersist()


def _injected(*_a, **_kw):
    raise RuntimeError("injected failure")


def test_incremental_dedup_frees_on_error(spark, monkeypatch):
    """A failure after five intermediates are materialized (fingerprints,
    both verdicts, both shingle tables) leaves none of them behind."""
    import otel_arrow_adapter_spark.functions.dedup as dedup

    docs = spark.createDataFrame(
        [(i, f"doc {i % 6} alpha beta gamma delta") for i in range(12)], "doc_id long, text string"
    )
    monkeypatch.setattr(dedup, "banded_buckets", _injected)
    with no_new_persistent_rdds(spark, "incremental_dedup"):
        with pytest.raises(RuntimeError, match="injected"):
            dedup.incremental_dedup(docs.where("doc_id < 8"), docs.where("doc_id >= 4"))


def test_dup_clusters_frees_on_error(spark, monkeypatch):
    """A failure reading a round's convergence count leaves neither the
    edges nor the round behind."""
    from pyspark.sql import Observation

    import otel_arrow_adapter_spark.functions.dedup as dedup

    class FailingObservation(Observation):
        @property
        def get(self):
            _injected()

    monkeypatch.setattr(dedup, "Observation", FailingObservation)
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    with no_new_persistent_rdds(spark, "dup_clusters"):
        with pytest.raises(RuntimeError, match="injected"):
            dedup.dup_clusters(pairs)


def test_kmeans_train_frees_on_error(spark, emb, monkeypatch):
    """A failure in the second Lloyd round does not leave the first
    round's centroids behind."""
    import otel_arrow_adapter_spark.functions.similarity as sim

    real, calls = sim.assign_to_centroids, []

    def second_call_fails(*a, **kw):
        calls.append(1)
        return _injected() if len(calls) == 2 else real(*a, **kw)

    monkeypatch.setattr(sim, "assign_to_centroids", second_call_fails)
    emb.count()  # the fixture's own cache is not the trainer's
    with no_new_persistent_rdds(spark, "kmeans_train"):
        with pytest.raises(RuntimeError, match="injected"):
            sim.kmeans_train(emb, n_centroids=5, iters=3)
    assert len(calls) == 2


def test_materialize_scope_frees_a_failed_job(spark):
    """A job that fails inside ``keep`` leaves neither its own partial
    checkpoint nor the scope's earlier ones behind."""
    from otel_arrow_adapter_spark.caching import materialize_scope

    bad = spark.range(100).select(
        F.when(F.col("id") == 50, F.raise_error(F.lit("injected failure"))).otherwise(F.col("id"))
    )
    with no_new_persistent_rdds(spark, "keep"):
        with pytest.raises(Exception, match="injected"):
            with materialize_scope() as m:
                m.keep(spark.range(10))
                m.keep(bad)


def test_repetition_scores_known_answer(spark):
    from otel_arrow_adapter_spark.functions.text import repetition_scores

    d = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # 2-grams: [ab, ba, ab, ba, ab] -> dup 3/5, top 3/5
            (2, "w x y z"),        # all distinct
            (3, "solo"),           # shorter than n -> no grams
            (4, ""),               # empty
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_scores(d, n=2).collect()}
    assert rows[1].n_grams == 5
    assert rows[1].frac_dup_ngrams == pytest.approx(0.6)
    assert rows[1].top_ngram_frac == pytest.approx(0.6)
    assert rows[1].keep is False
    assert rows[2].n_grams == 3 and rows[2].frac_dup_ngrams == 0.0 and rows[2].keep
    assert rows[3].n_grams == 0 and rows[3].top_ngram_frac == 0.0 and rows[3].keep
    assert rows[4].n_grams == 0 and rows[4].keep


def test_repetition_scores_no_shuffle(spark, docs):
    """Per-doc repetition is row-local: the plan must contain no Exchange
    (the whole point of the array-expression form at 100 TB)."""
    from otel_arrow_adapter_spark.functions.text import repetition_scores

    plan = repetition_scores(docs.select("doc_id", "text"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_boilerplate_ngrams_known_answer(spark):
    from otel_arrow_adapter_spark.functions.text import boilerplate_ngrams

    # "common header text" in docs 1-3 (doc 3 twice); unique tails elsewhere
    d = spark.createDataFrame(
        [
            (1, "common header text alpha"),
            (2, "common header text beta"),
            (3, "common header text common header text"),
            (4, "nothing shared here"),
        ],
        "doc_id long, text string",
    )
    out = {r.ngram: r for r in boilerplate_ngrams(d, n=3, min_docs=3).collect()}
    assert set(out) == {"common header text"}
    assert out["common header text"].n_docs == 3
    assert out["common header text"].n_occurrences == 4


def test_quantize_embeddings_bounds_and_recall(spark):
    """int8 codes stay in [-127, 127]; reconstruction error per dim is
    <= s_d/254 + eps; quantized top-10 overlaps exact top-10 heavily."""
    from otel_arrow_adapter_spark.functions.similarity import (
        cosine_topk,
        quantize_embeddings,
        quantized_cosine_topk,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    coded = quantize_embeddings(e, bits=8)
    mn, mx = coded.select(
        F.min(F.array_min("codes")), F.max(F.array_max("codes"))
    ).first()
    assert -127 <= mn and mx <= 127
    # reconstruction error bound: |x - c*s/127| <= s/(2*127) per dim
    err = (
        coded.join(e, "vec_id")
        .select(
            F.array_max(
                F.zip_with(
                    F.zip_with("codes", "scales", lambda c, s: c * s / 127.0).alias("r"),
                    "embedding",
                    lambda r, x: F.abs(r - x),
                )
            ).alias("e"),
            F.array_max(F.transform("scales", lambda s: s / 254.0 + 1e-12)).alias("bound"),
        )
        .where(F.col("e") > F.col("bound"))
        .count()
    )
    assert err == 0
    exact = {r.vec_id for r in cosine_topk(e, query_vec_id=0, k=10).collect()}
    quant = {r.vec_id for r in quantized_cosine_topk(e, query_vec_id=0, k=10).collect()}
    assert len(exact & quant) >= 8  # int8 SQ distorts cosine by <1e-2 at dim 64


def test_redact_pii_known_strings(spark):
    from otel_arrow_adapter_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@ex-ample.co.uk now"),
            (2, "call 555-123-4567 or 555.123.4567"),
            (3, "from 10.0.3.44 and 192.168.1.1."),
            (4, "no pii here at all"),
        ],
        "id long, text string",
    )
    counts = pii_counts(F.col("text"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            redact_pii(F.col("text")).alias("red"),
            counts["email"].alias("ne"),
            counts["phone"].alias("np"),
            counts["ip"].alias("ni"),
        ).collect()
    }
    assert rows[1]["red"] == "mail <EMAIL> now" and rows[1]["ne"] == 1
    assert rows[2]["red"] == "call <PHONE> or <PHONE>" and rows[2]["np"] == 2
    assert rows[3]["red"] == "from <IP> and <IP>." and rows[3]["ni"] == 2
    assert rows[4]["red"] == "no pii here at all"
    assert (rows[4]["ne"], rows[4]["np"], rows[4]["ni"]) == (0, 0, 0)


def test_ngram_contamination_flags_overlap_only(spark):
    from otel_arrow_adapter_spark.functions.dedup import ngram_contamination

    words = " ".join(f"w{i}" for i in range(12))
    clean = " ".join(f"c{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, words + " extra tail tokens here"),  # shares 8-grams
            (2, clean),  # disjoint vocabulary
            (3, "short doc"),  # < n tokens: no grams, never flagged
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, words)], "doc_id long, text string")
    out = {r["doc_id"]: r["n_hit_grams"] for r in ngram_contamination(docs, bench, n=8).collect()}
    assert 1 in out and out[1] == 5  # 12 tokens -> 5 dist. 8-grams shared
    assert 2 not in out and 3 not in out


def test_stratified_sample_deterministic_and_gated(spark):
    from otel_arrow_adapter_spark.functions.text import stratified_sample

    df = spark.createDataFrame(
        [(i, "keep" if i % 2 == 0 else "drop") for i in range(200)],
        "doc_id long, stratum string",
    )
    full = stratified_sample(df, "stratum", {"keep": 1.0}).collect()
    # rate 1.0 keeps every member of the stratum; absent strata use default 0
    assert sorted(r["doc_id"] for r in full) == [i for i in range(200) if i % 2 == 0]
    half_a = {r["doc_id"] for r in stratified_sample(df, "stratum", {"keep": 0.5}).collect()}
    half_b = {r["doc_id"] for r in stratified_sample(df, "stratum", {"keep": 0.5}).collect()}
    assert half_a == half_b  # pure function of doc_id: no RNG state
    assert half_a < {i for i in range(200) if i % 2 == 0}
    assert 20 <= len(half_a) <= 80  # md5 uniformity, loose bound


def test_redact_pii_idempotent_no_residuals(spark):
    """redact ∘ redact == redact, and the redacted text contains zero
    remaining matches of ANY pattern (adjacent/nested adversarial forms:
    dotted runs longer than an IPv4, emails butted against dotted quads,
    phone-ish runs inside longer digit strings)."""
    import itertools

    from otel_arrow_adapter_spark.functions.text import pii_counts, redact_pii

    frags = [
        "a@b.co", "1.2.3.4", "555-123-4567", "12.34.56.78.90.11.22.33",
        "x", " ", ".", "-", "9", "user.name+tag@sub.domain.org", "..",
        "555.123.4567", "@", "co", "999", "0.0.0.0",
    ]
    rows = [
        (i, "".join(c)) for i, c in enumerate(itertools.islice(
            itertools.product(frags, repeat=3), 500))
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    once = df.select("id", redact_pii(F.col("text")).alias("r1"))
    twice = once.select(
        "id", "r1", redact_pii(F.col("r1")).alias("r2"),
        *[v.alias(f"n_{k}") for k, v in pii_counts(F.col("r1")).items()],
    )
    bad = twice.where(
        (F.col("r1") != F.col("r2"))
        | (F.col("n_email") + F.col("n_ip") + F.col("n_phone") > 0)
    ).count()
    assert bad == 0


def test_unigram_logprob_known_answer(spark):
    import math

    from otel_arrow_adapter_spark.functions.text import unigram_logprob

    # corpus: a x3, b x1 -> p(a)=3/4, p(b)=1/4
    df = spark.createDataFrame(
        [(1, "a a"), (2, "a b")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert out[1]["n_tokens"] == 2 and out[2]["n_tokens"] == 2
    assert out[1]["mean_logprob"] == round(math.log(0.75), 6)
    assert out[2]["mean_logprob"] == round((math.log(0.75) + math.log(0.25)) / 2, 6)
    # head-vocab mode: b falls out of a top-1 vocab and scores oov_logprob
    capped = {r["doc_id"]: r for r in unigram_logprob(df, max_vocab=1, oov_logprob=-20.0).collect()}
    assert capped[2]["mean_logprob"] == round((math.log(0.75) - 20.0) / 2, 6)


def test_dup_spans_planted_run(spark):
    """ExactSubstr anchoring: a 7-token run shared by two docs at different
    offsets comes back as one maximal span each (3 merged 5-gram anchors),
    with exact token offsets; non-overlapping docs are absent."""
    from otel_arrow_adapter_spark.functions.dedup import dup_spans

    shared = "alpha beta gamma delta epsilon zeta eta"
    d = spark.createDataFrame(
        [
            (1, f"prefix one two {shared} tail1 x"),
            (2, f"{shared} completely different ending here"),
            (3, "no overlap with anything else at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_spans(d, k=5, min_docs=2).collect()}
    assert set(out) == {1, 2}
    assert (out[1].span_start, out[1].span_len, out[1].n_grams) == (3, 7, 3)
    assert (out[2].span_start, out[2].span_len, out[2].n_grams) == (0, 7, 3)
    # min_tokens gates short spans out
    assert dup_spans(d, k=5, min_docs=2, min_tokens=8).count() == 0


def test_semdedup_keeps_least_central_representative(spark):
    """Duplicate group {0, 2, 3} in centroid-0's cluster under tau=0.998:
    scan order is ascending centroid similarity (2, 3, 0), so 3 drops as a
    duplicate of 2 (cos 0.998314) and 0 drops as a duplicate of 3
    (cos 0.998617) even though 3 itself was dropped — SemDeDup judges
    against all earlier points, not surviving ones. The kept
    representative is the LEAST central member, 2."""
    from otel_arrow_adapter_spark.functions.similarity import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.95, 0.05, 0.0]),
        (4, [0.1, 0.9, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semdedup(e, n_clusters=2, threshold=0.998).collect()}
    assert {v for v, r in out.items() if r.keep} == {1, 2, 4}
    assert {v for v, r in out.items() if not r.keep} == {0, 3}


def test_semdedup_pair_scan_is_cluster_bounded(spark, emb):
    """The within-cluster pair scan must plan as an equi-join on
    centroid_id (hash/sort-merge), never a cartesian product."""
    from otel_arrow_adapter_spark.functions.similarity import semdedup

    plan = (
        semdedup(emb, n_clusters=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan


def test_shard_shuffle_stable_complete_and_reseeds(spark, docs):
    """(shard, pos) is a pure function of (seed, doc_id): identical across
    runs, positions exactly 1..shard_size per shard, and a new seed
    permutes intra-shard order while leaving shard membership fixed."""
    from collections import Counter

    from otel_arrow_adapter_spark.functions.text import shard_shuffle

    d = docs.select("doc_id")
    rows_a = {r.doc_id: (r.shard, r.pos) for r in shard_shuffle(d, n_shards=8).collect()}
    rows_b = {r.doc_id: (r.shard, r.pos) for r in shard_shuffle(d, n_shards=8).collect()}
    assert rows_a == rows_b
    assert len(rows_a) == d.count()
    sizes = Counter(s for s, _ in rows_a.values())
    for s, cnt in sizes.items():
        ps = sorted(p for sh, p in rows_a.values() if sh == s)
        assert ps == list(range(1, cnt + 1))
    rows_c = {r.doc_id: (r.shard, r.pos) for r in shard_shuffle(d, n_shards=8, seed="epoch1").collect()}
    assert {k: v[0] for k, v in rows_a.items()} == {k: v[0] for k, v in rows_c.items()}
    assert rows_a != rows_c


def test_dsir_weights_known_answer(spark):
    """Two-doc corpus, target = doc 1: a token's llr is ln((n_tgt+a)/(t_tgt+aV))
    - ln((n_raw+a)/(t_raw+aV)); docs of target tokens score positive, raw-only
    docs negative, exact to 6 dp."""
    import math

    from otel_arrow_adapter_spark.functions.text import dsir_weights

    d = spark.createDataFrame(
        [(1, "aa aa bb"), (2, "cc cc dd")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dsir_weights(d, d.where(F.col("doc_id") == 1)).collect()}

    def llr(n_tgt, n_raw, t_tgt=3, t_raw=6, v=4, a=0.5):
        return math.log((n_tgt + a) / (t_tgt + a * v)) - math.log((n_raw + a) / (t_raw + a * v))

    assert out[1].n_tokens == 3
    assert out[1].log_weight == round(2 * llr(2, 2) + llr(1, 1), 6)
    assert out[2].log_weight == round(2 * llr(0, 2) + llr(0, 1), 6)
    assert out[1].log_weight > 0 > out[2].log_weight


def test_tfidf_top_terms_known_answer(spark):
    """idf = ln(N/df); rank on the rounded score with term tie-break
    (doc 2's two 0.405465 terms order banana before cherry)."""
    import math

    from otel_arrow_adapter_spark.functions.text import tfidf_top_terms

    d = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry date date date"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.rnk): r for r in tfidf_top_terms(d, top_k=2).collect()}
    assert out[(1, 1)].term == "apple"
    assert out[(1, 1)].score == round(2 * math.log(3), 6)
    assert out[(2, 1)].term == "banana" and out[(2, 2)].term == "cherry"
    assert out[(2, 1)].score == out[(2, 2)].score == round(math.log(1.5), 6)
    assert out[(3, 1)].term == "date"
    assert out[(3, 1)].score == round(3 * math.log(3), 6)


def test_length_histogram_buckets_and_shares(spark):
    """floor(log2(n+1)) bucketing: 3 tokens -> bucket 2, 1 token -> bucket 1,
    empty doc -> bucket 0; shares sum to 1 within a stratum."""
    from otel_arrow_adapter_spark.functions.text import length_histogram

    d = spark.createDataFrame(
        [(1, "en", "a b c"), (2, "en", "x"), (3, "en", "y"), (4, "de", "")],
        "doc_id long, lang string, text string",
    )
    out = {(r.stratum, r.bucket): r for r in length_histogram(d).collect()}
    assert out[("en", 2)].n_docs == 1 and out[("en", 2)].total_tokens == 3
    assert out[("en", 1)].n_docs == 2
    assert out[("de", 0)].n_docs == 1 and out[("de", 0)].total_tokens == 0
    assert out[("en", 2)].doc_share == round(1 / 3, 6)
    assert out[("en", 1)].doc_share == round(2 / 3, 6)
    assert out[("de", 0)].doc_share == 1.0


def test_leakage_free_split_keeps_clusters_together(spark):
    """Every member of a connected component gets the component's split
    key (min doc id) and therefore the same side; singletons draw on
    their own id; the whole corpus is covered."""
    from otel_arrow_adapter_spark.functions.dedup import leakage_free_split

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id long")
    out = {r.doc_id: r for r in leakage_free_split(docs, pairs, val_frac=0.3).collect()}
    assert len(out) == 6
    assert out[1].split_key == out[2].split_key == out[3].split_key == 1
    assert out[1].split == out[2].split == out[3].split
    assert out[10].split_key == out[11].split_key == 10
    assert out[10].split == out[11].split
    assert out[20].split_key == 20
    assert all(r.split in ("train", "val") for r in out.values())


def test_token_budget_sample_order_and_overshoot(spark):
    """Docs admit in md5-draw order until the stratum budget fills; the
    last admitted doc may overshoot; unbudgeted strata are excluded."""
    import hashlib

    from otel_arrow_adapter_spark.functions.text import token_budget_sample

    rows = [(i, "en", "tok tok tok tok") for i in range(6)] + [(99, "de", "a b c")]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.doc_id: r for r in token_budget_sample(d, {"en": 10}).collect()}
    order = sorted(range(6), key=lambda i: hashlib.md5(f"mix0:{i}".encode()).hexdigest())
    # 4 tokens each: priors 0, 4, 8 < 10 admit; 12 does not; de unbudgeted
    assert set(out) == set(order[:3])
    assert {r.prior_tokens for r in out.values()} == {0, 4, 8}


def test_chunk_spans_windows_and_edges(spark):
    """Sliding-window chunking: exact spans for the boundary cases —
    empty doc (no chunks), short doc (one full-doc chunk), exact fit,
    one-past-fit, and a multi-window doc whose last chunk is clipped."""
    from otel_arrow_adapter_spark.functions.text import chunk_spans

    docs = spark.createDataFrame(
        [
            (1, ""),  # empty -> no rows
            (2, "a b c"),  # 3 tokens -> 1 chunk [0,3)
            (3, " ".join(["t"] * 8)),  # exact chunk_size -> 1 chunk [0,8)
            (4, " ".join(["t"] * 9)),  # 1 past -> 2 chunks, last clipped
            (5, " ".join(["t"] * 20)),  # 3 chunks at stride 6
        ],
        "doc_id long, text string",
    )
    out = chunk_spans(docs, chunk_size=8, stride=6)
    rows = sorted(out.collect(), key=lambda r: (r.doc_id, r.chunk_idx))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.tok_start, r.tok_end))
    assert 1 not in by_doc
    assert by_doc[2] == [(0, 3)]
    assert by_doc[3] == [(0, 8)]
    assert by_doc[4] == [(0, 8), (6, 9)]
    assert by_doc[5] == [(0, 8), (6, 14), (12, 20)]
    # invariants: every token index is covered, consecutive chunks overlap
    # by chunk_size - stride, n_chunks matches the emitted rows
    for doc_id, spans in by_doc.items():
        n = {r.doc_id: r.n_tokens for r in rows}[doc_id]
        assert spans[0][0] == 0 and spans[-1][1] == n
        for (s0, e0), (s1, e1) in zip(spans, spans[1:]):
            assert s1 == s0 + 6 and s1 < e0  # stride + genuine overlap
        assert {r.doc_id: r.n_chunks for r in rows}[doc_id] == len(spans)


def test_embedding_moments_matches_numpy_cov(spark):
    """Distributed covariance == numpy population covariance (within the
    6-decimal oracle rounding), across multiple partitions."""
    import numpy as np

    from otel_arrow_adapter_spark.functions.similarity import embedding_moments

    rng = np.random.default_rng(7)
    x = rng.normal(size=(40, 5))
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], "vec_id long, embedding array<double>"
    ).repartition(4)
    rows = embedding_moments(df).collect()
    assert len(rows) == 5 * 6 // 2
    cov = np.cov(x.T, bias=True)
    mean = x.mean(axis=0)
    for r in rows:
        assert r.n_vecs == 40
        assert abs(r.mean_i - mean[r.i]) <= 2e-6
        assert abs(r.mean_j - mean[r.j]) <= 2e-6
        assert abs(r.cov_ij - cov[r.i, r.j]) <= 2e-6


def test_pca_project_recovers_planted_direction(spark):
    """PCA transform: top component captures the planted high-variance
    direction; projections are centered, variance-ordered, uncorrelated."""
    import numpy as np

    from otel_arrow_adapter_spark.functions.similarity import pca_project

    rng = np.random.default_rng(11)
    d, n = 6, 200
    direction = np.zeros(d)
    direction[2] = 1.0  # plant 10x variance on axis 2
    x = rng.normal(size=(n, d)) * 0.3 + rng.normal(size=(n, 1)) * 3.0 * direction
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], "vec_id long, embedding array<double>"
    ).repartition(3)
    out = pca_project(df, k=3)
    assert out.columns == ["vec_id", "embedding", "projection"]
    proj = np.array(
        [r.projection for r in sorted(out.collect(), key=lambda r: r.vec_id)]
    )
    assert proj.shape == (n, 3)
    # centered (fit mean == data mean up to oracle rounding)
    assert np.abs(proj.mean(axis=0)).max() < 1e-3
    var = proj.var(axis=0)
    assert var[0] > var[1] >= var[2]  # descending eigenvalue order
    # top component is the planted axis: |corr| with x[:,2] ~ 1
    corr = np.corrcoef(proj[:, 0], x[:, 2])[0, 1]
    assert abs(corr) > 0.99
    # components orthogonal -> projections uncorrelated
    c = np.cov(proj.T)
    off = c - np.diag(np.diag(c))
    assert np.abs(off).max() < 1e-2


def test_source_profile_dup_rate_and_means(spark):
    """Per-source rollup: a duplicate pair that STRADDLES two sources
    counts as a dup doc in BOTH (global fingerprint grain), means and
    language spread are per source."""
    from otel_arrow_adapter_spark.functions.text import source_profile

    docs = spark.createDataFrame(
        [
            (1, "the same text", "en", "web"),
            (2, "the same text", "en", "web"),  # dup within web
            (3, "The  Same   Text", "en", "code"),  # dup of 1/2 across source
            (4, "totally different words here", "de", "code"),
            (5, "another unique doc", "en", "code"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r.source: r for r in source_profile(docs).collect()}
    web, code = rows["web"], rows["code"]
    assert (web.n_docs, web.n_dup_docs, web.n_langs) == (2, 2, 1)
    assert web.dup_rate == 1.0
    assert (code.n_docs, code.n_dup_docs, code.n_langs) == (3, 1, 2)
    assert abs(code.dup_rate - round(1 / 3, 6)) < 1e-9
    assert code.mean_tokens == round((3 + 4 + 3) / 3, 6)
    assert 0.0 < code.mean_quality <= 1.0


def test_quantile_filter_per_stratum_adaptivity(spark):
    """The bottom-frac cut adapts per stratum: a uniformly-lower-quality
    stratum keeps its own top 75%, not whatever an absolute threshold
    would leave; kept fraction per stratum ~= 1 - frac."""
    from otel_arrow_adapter_spark.functions.text import quantile_filter

    good = " ".join(["the quick brown fox jumps over it and"] * 8)  # high quality
    rows = []
    for i in range(8):
        rows.append((i, good + f" v{i}", "en"))
        # short + punctuation-heavy -> uniformly low quality
        rows.append((100 + i, f"!!! ### $$$ %%% {i}", "zz"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = quantile_filter(docs, frac=0.25, stratum_col="lang").collect()
    by = {}
    for r in out:
        by.setdefault(r.stratum, []).append(r)
    for stratum, rs in by.items():
        kept = [r for r in rs if r.keep]
        # every doc at-or-above its stratum threshold is kept
        assert all((r.quality >= r.q_threshold) == r.keep for r in rs)
        assert 0 < len(kept) < len(rs) or len({r.quality for r in rs}) == 1
    # the low-quality stratum still KEEPS most of its docs (relative gate);
    # an absolute cut at en's threshold would drop all of zz
    en_thresh = by["en"][0].q_threshold
    zz = by["zz"]
    assert all(r.quality < en_thresh for r in zz)
    assert sum(1 for r in zz if r.keep) >= len(zz) // 2


def _ref_bpe_train(word_freqs, n_merges, min_pair_count=2):
    """Sequential reference BPE (Sennrich et al. 2016, alg. 1) with the
    same lexicographic tie-break — the differential oracle."""
    vocab = {tuple(w): n for w, n in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + n
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new_vocab = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def test_bpe_train_matches_sequential_reference(spark):
    """Distributed BPE training == the sequential Sennrich algorithm on
    the same corpus: identical ranked merge list (argmax + lexicographic
    tie-break), across multiple partitions."""
    from collections import Counter

    from otel_arrow_adapter_spark.functions.bpe import bpe_apply, bpe_train

    # the classic example vocabulary, embedded in documents with noise
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    docs = spark.createDataFrame(
        [(i, " ".join(words[i::4])) for i in range(4)], "doc_id long, text string"
    ).repartition(3)
    merges = bpe_train(docs, n_merges=8)
    ref = _ref_bpe_train(Counter(words), n_merges=8)
    assert merges == ref
    assert len(merges) >= 4 and merges[0] == ("e", "s")  # newest+widest: 9

    # application: n_bpe_tokens equals the reference segmentation length
    out = {r.doc_id: r.n_bpe_tokens for r in bpe_apply(docs, merges).collect()}
    from otel_arrow_adapter_spark.functions.bpe import _encode_word

    ranks = {p: i for i, p in enumerate(merges)}
    for i in range(4):
        expect = sum(len(_encode_word(w, ranks)) for w in words[i::4])
        assert out[i] == expect
    # full merges reduce the classic words to single tokens eventually
    full = bpe_train(docs, n_merges=50, min_pair_count=2)
    assert full == _ref_bpe_train(Counter(words), n_merges=50)


def test_bpe_apply_empty_and_unseen(spark):
    """Apply-side edges: empty text -> 0 tokens; words never seen in
    training fall back to characters minus any applicable merges."""
    from otel_arrow_adapter_spark.functions.bpe import bpe_apply

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "zq"), (4, "es es")], "doc_id long, text string"
    )
    out = {r.doc_id: r.n_bpe_tokens for r in bpe_apply(docs, [("e", "s")]).collect()}
    assert out[1] == 0 and out[2] == 0
    assert out[3] == 2  # unseen chars stay chars
    assert out[4] == 2  # the merge applies to unseen WORDS too


def test_pq_subvectors_rejects_indivisible_dim(spark, emb):
    """ADVICE r5: dim % m != 0 silently dropped the trailing dimensions
    from every subvector; it must raise instead."""
    import pytest as _pytest

    from otel_arrow_adapter_spark.functions.similarity import pq_subvectors

    with _pytest.raises(ValueError, match="not divisible"):
        pq_subvectors(emb, m=7, dim=64)


def test_pq_encode_seed_vectors_code_to_themselves(spark, emb):
    """Seed codebooks are the first n_codes vectors' subvectors, so those
    vectors must encode to their own code with distance 0 in EVERY
    subspace; every vector gets exactly m codes."""
    from otel_arrow_adapter_spark.functions.similarity import pq_codebooks, pq_encode

    cb = pq_codebooks(emb, m=8, n_codes=16, dim=64)
    codes = pq_encode(emb, cb, m=8, dim=64).cache()
    assert codes.count() == emb.count() * 8
    self_rows = codes.where(F.col("vec_id") < 16).collect()
    assert len(self_rows) == 16 * 8
    assert all(r.code_id == r.vec_id and r.dist == 0.0 for r in self_rows)
    codes.unpersist()


def test_pq_adc_exact_when_vectors_live_on_codewords(spark):
    """Known answer: when every vector's subvectors are copies of seed
    subvectors, quantization is lossless, so ADC == the exact dot product
    and the ADC top-k equals brute-force top-k (dim=8, m=2, k=2)."""
    from otel_arrow_adapter_spark.functions.similarity import pq_search_adc

    a, b = [1.0, 0.0, 2.0, 0.0], [0.0, 3.0, 0.0, 1.0]
    rows = [
        (0, a + b),          # seed/code 0
        (1, b + a),          # seed/code 1
        (2, a + a),          # codes (0 in sub0-space of seed0, ...)
        (3, b + b),
        (4, a + b),          # exact duplicate of the query vector 0
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = pq_search_adc(e, query_vec_id=0, k=4, m=2, n_codes=2, dim=8).collect()
    # exact dots with q = a+b: v4 = |a|^2+|b|^2 = 15, v2 = |a|^2 + a.b(=0)... compute:
    # dot(q, v1) = a.b + b.a = 0; dot(q, v2) = |a|^2 + a.b = 5; dot(q, v3) = b.a + |b|^2 = 10
    want = [(4, 15.0, 1), (3, 10.0, 2), (2, 5.0, 3), (1, 0.0, 4)]
    assert [(r.vec_id, r.adc_score, r.rank) for r in got] == want


def test_pq_train_reduces_quantization_error_and_keeps_shape(spark, emb):
    """Lloyd-per-subspace must not worsen total quantization error vs the
    seed codebooks, and the codebook stays exactly m x k (empty codes keep
    their previous codeword)."""
    from otel_arrow_adapter_spark.functions.similarity import (
        pq_codebooks,
        pq_encode,
        pq_train_codebooks,
    )

    def total_err(cb):
        return pq_encode(emb, cb, m=8, dim=64).agg(F.sum("dist")).collect()[0][0]

    seed = pq_codebooks(emb, m=8, n_codes=8, dim=64)
    trained = pq_train_codebooks(emb, m=8, n_codes=8, iters=2, dim=64)
    assert trained.count() == 8 * 8
    assert trained.select("sub", "code_id").distinct().count() == 8 * 8
    assert total_err(trained) <= total_err(seed) + 1e-6
    trained.unpersist()


def test_bigram_logprob_stupid_backoff_known_answer(spark):
    """Hand-computed Stupid Backoff: LM on docs 1-2, scoring exercises all
    three arms — seen bigram ln(c12/c1), backoff ln(0.4*c2/N), OOV floor."""
    import math

    from otel_arrow_adapter_spark.functions.text import bigram_logprob

    lm = spark.createDataFrame(
        [(1, "a b a b"), (2, "b c")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(3, "a b c d"), (4, "c a"), (5, "x")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bigram_logprob(score, lm_docs=lm).collect()}
    # uni: a=2 b=3 c=1, N=6; bi: (a,b)=2 (b,a)=1 (b,c)=1
    assert out[3].n_bigrams == 3
    want3 = (math.log(2 / 2) + math.log(1 / 3) + (-20.0)) / 3  # seen, seen, OOV(d)
    assert out[3].mean_logprob == pytest.approx(round(want3, 6), abs=1e-6)
    assert out[4].n_bigrams == 1
    want4 = math.log(0.4 * 2 / 6)  # (c,a) unseen bigram -> backoff to c(a)/N
    assert out[4].mean_logprob == pytest.approx(round(want4, 6), abs=1e-6)
    assert 5 not in out  # single-token docs have no bigrams


def test_ivfpq_full_probe_equals_pq_adc(spark, emb):
    """With n_probe == n_centroids the IVF restriction is a no-op, so
    IVFADC must return exactly the plain ADC top-k."""
    from otel_arrow_adapter_spark.functions.similarity import ivfpq_search, pq_search_adc

    full = ivfpq_search(
        emb, query_vec_id=0, k=10, n_centroids=10, n_probe=10, m=8, n_codes=16, dim=64
    ).collect()
    plain = pq_search_adc(emb, query_vec_id=0, k=10, m=8, n_codes=16, dim=64).collect()
    assert [(r.vec_id, r.adc_score, r.rank) for r in full] == [
        (r.vec_id, r.adc_score, r.rank) for r in plain
    ]


def test_ivfpq_probed_results_subset_of_probed_lists(spark, emb):
    """Every IVFADC result must come from a probed inverted list."""
    from otel_arrow_adapter_spark.functions.similarity import (
        assign_to_centroids,
        ivfpq_search,
        seed_centroids,
    )

    got = ivfpq_search(emb, query_vec_id=0, k=10, n_centroids=10, n_probe=2).collect()
    assert len(got) == 10
    assigned = {
        r.vec_id: r.centroid_id
        for r in assign_to_centroids(emb, seed_centroids(emb, 10)).collect()
    }
    probed_lists = {assigned[r.vec_id] for r in got}
    assert len(probed_lists) <= 2


def test_bm25_topk_known_answer(spark):
    """Hand-replicated BM25 (Lucene idf) on a 3-doc corpus."""
    import math

    from otel_arrow_adapter_spark.functions.text import bm25_topk

    docs = spark.createDataFrame(
        [(1, "spark spark join x"), (2, "join y z"), (3, "a b c d")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.bm25, r.rank) for r in
           bm25_topk(docs, query_terms=("spark", "join"), k=10).collect()}
    n_docs, avgdl, k1, b = 3, 11 / 3, 1.2, 0.75

    def idf(df):
        return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)

    def term(tf, dl, df):
        return idf(df) * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))

    want1 = round(term(2, 4, 1) + term(1, 4, 2), 6)  # spark tf=2, join tf=1
    want2 = round(term(1, 3, 2), 6)                  # join tf=1
    assert got[1] == (pytest.approx(want1, abs=1e-6), 1)
    assert got[2] == (pytest.approx(want2, abs=1e-6), 2)
    assert 3 not in got  # no query term -> unscored


def test_source_kl_drift_known_answer(spark):
    """Exact KL on two strata: a uniform-matching stratum scores near 0,
    a skewed one scores the hand-computed divergence."""
    import math

    from otel_arrow_adapter_spark.functions.text import source_kl_drift

    docs = spark.createDataFrame(
        [
            (1, "a b", "s0"), (2, "a b", "s1"),
            (3, "a a", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r.stratum: r for r in source_kl_drift(docs).collect()}
    # corpus: a=4 b=2 (N=6); s0: a=1 b=1 (n=2); s1: a=3 b=1 (n=4)
    def kl(dist, n):
        return sum((c / n) * math.log((c / n) / (ca / 6)) for c, ca in dist)

    assert got["s0"].n_tokens == 2
    assert got["s0"].kl == pytest.approx(round(kl([(1, 4), (1, 2)], 2), 6), abs=1e-6)
    assert got["s1"].n_tokens == 4
    assert got["s1"].kl == pytest.approx(round(kl([(3, 4), (1, 2)], 4), 6), abs=1e-6)


def test_incremental_dedup_classifies_all_reasons(spark):
    """Planted batch: exact copy of an index doc, a new doc, its in-batch
    copy (keep-first), and a near-dup of an index doc."""
    from otel_arrow_adapter_spark.functions.dedup import incremental_dedup

    index = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),       # exact vs index 0
            (11, "unique brand new content words here"),       # new
            (12, "unique brand new content words here"),       # batch copy of 11
            (13, "alpha beta gamma delta epsilon zeta eta"),   # near of index 0
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.reason, r.keep) for r in
           incremental_dedup(batch, index, threshold=0.7).collect()}
    assert got[10] == ("exact_dup", False)
    assert got[11] == ("new", True)
    assert got[12] == ("batch_dup", False)
    assert got[13] == ("near_dup", False)
    assert len(got) == 4


def test_pq_rescored_full_shortlist_equals_exact(spark, emb):
    """With the shortlist covering the whole corpus, ADC winnows nothing
    and the exact rescore must reproduce cosine_topk exactly."""
    from otel_arrow_adapter_spark.functions.similarity import pq_search_rescored

    n = emb.count()
    got = pq_search_rescored(emb, query_vec_id=0, k=10, shortlist=n).collect()
    want = cosine_topk(emb, query_vec_id=0, k=10).collect()
    assert [(r.vec_id, r.cos_sim, r.rank) for r in got] == [
        (r.vec_id, r.cos_sim, r.rank) for r in want
    ]


def test_count_min_sketch_overestimates_and_merges(spark):
    """CMS invariants: point estimates are one-sided (est >= true); a wide
    sketch is exact for a small key set; sketches over a partition of the
    stream merge by (row, col) sum to the whole-stream sketch."""
    from otel_arrow_adapter_spark.functions.sketches import cms_lookup, count_min_sketch

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
    items = spark.createDataFrame(rows, "key string")
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "key string")
    exact = {"a": 5, "b": 3, "c": 1}

    narrow = count_min_sketch(items, depth=4, width=4)
    est = {r.key: r.cms_n for r in cms_lookup(narrow, keys, depth=4, width=4).collect()}
    assert all(est[k] >= v for k, v in exact.items())

    wide = count_min_sketch(items, depth=4, width=4096)
    est_w = {r.key: r.cms_n for r in cms_lookup(wide, keys, depth=4, width=4096).collect()}
    assert est_w == exact

    # merge: per-half sketches sum to the whole-stream sketch
    import pyspark.sql.functions as FF
    h1 = count_min_sketch(spark.createDataFrame(rows[:4], "key string"), depth=4, width=4)
    h2 = count_min_sketch(spark.createDataFrame(rows[4:], "key string"), depth=4, width=4)
    merged = (
        h1.unionByName(h2).groupBy("row", "col").agg(FF.sum("c").alias("c"))
    )
    whole = {(r.row, r.col): r.c for r in narrow.collect()}
    assert {(r.row, r.col): r.c for r in merged.collect()} == whole


def test_cms_property_overestimate_and_merge(spark):
    """Hypothesis: for arbitrary key multisets and any split point, (a)
    every point estimate upper-bounds the true count, (b) the two split
    halves' sketches merge cell-for-cell to the whole-stream sketch."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from otel_arrow_adapter_spark.functions.sketches import cms_lookup, count_min_sketch

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(st.sampled_from([f"k{i}" for i in range(12)]), min_size=1, max_size=60),
        st.integers(min_value=0, max_value=60),
    )
    def check(keys, cut):
        cut = min(cut, len(keys))
        items = spark.createDataFrame([(k,) for k in keys], "key string")
        sk = count_min_sketch(items, depth=3, width=8)
        uniq = spark.createDataFrame([(k,) for k in set(keys)], "key string")
        est = {r.key: r.cms_n for r in cms_lookup(sk, uniq, depth=3, width=8).collect()}
        from collections import Counter

        exact = Counter(keys)
        assert all(est[k] >= n for k, n in exact.items())
        if 0 < cut < len(keys):
            h1 = count_min_sketch(
                spark.createDataFrame([(k,) for k in keys[:cut]], "key string"),
                depth=3, width=8,
            )
            h2 = count_min_sketch(
                spark.createDataFrame([(k,) for k in keys[cut:]], "key string"),
                depth=3, width=8,
            )
            merged = {}
            for r in h1.collect() + h2.collect():
                merged[(r.row, r.col)] = merged.get((r.row, r.col), 0) + r.c
            whole = {(r.row, r.col): r.c for r in sk.collect()}
            assert merged == whole

    check()


def test_incremental_dedup_property_partition_and_precedence(spark):
    """Hypothesis: for arbitrary small corpora, (a) every batch doc gets
    exactly one reason, (b) keep == (reason == new), (c) any batch doc
    whose text appears in the index is never kept, (d) within a batch
    fingerprint group at most one doc is kept."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from otel_arrow_adapter_spark.functions.dedup import incremental_dedup

    texts = st.sampled_from(
        ["alpha beta gamma one", "delta epsilon zeta two", "eta theta iota three"]
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(texts, min_size=1, max_size=6),
        st.lists(texts, min_size=0, max_size=4),
    )
    def check(batch_texts, index_texts):
        batch = spark.createDataFrame(
            list(enumerate(batch_texts)), "doc_id long, text string"
        )
        index = spark.createDataFrame(
            [(1000 + i, t) for i, t in enumerate(index_texts)],
            "doc_id long, text string",
        )
        rows = incremental_dedup(batch, index).collect()
        assert len(rows) == len(batch_texts)
        by_id = {r.doc_id: r for r in rows}
        idx_set = set(index_texts)
        from collections import defaultdict

        groups = defaultdict(list)
        for i, t in enumerate(batch_texts):
            groups[t].append(i)
        for i, t in enumerate(batch_texts):
            r = by_id[i]
            assert r.keep == (r.reason == "new")
            if t in idx_set:
                assert r.reason in ("exact_dup", "batch_dup") and not r.keep
        for t, ids in groups.items():
            assert sum(1 for i in ids if by_id[i].keep) <= 1

    check()


def test_bigram_logprob_differential_vs_python(spark):
    """Differential test: Stupid Backoff scores over random corpora must
    match a sequential pure-Python reference exactly (round-6)."""
    import math
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from otel_arrow_adapter_spark.functions.text import bigram_logprob

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=1, max_size=8).map(" ".join)

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(doc, min_size=1, max_size=5), st.lists(doc, min_size=1, max_size=5))
    def check(score_texts, lm_texts):
        lm = spark.createDataFrame(list(enumerate(lm_texts)), "doc_id long, text string")
        sc = spark.createDataFrame(list(enumerate(score_texts)), "doc_id long, text string")
        got = {r.doc_id: (r.n_bigrams, r.mean_logprob)
               for r in bigram_logprob(sc, lm_docs=lm).collect()}

        uni = Counter(t for d in lm_texts for t in d.split())
        n_total = sum(uni.values())
        bi = Counter(
            (ts[i], ts[i + 1])
            for d in lm_texts
            for ts in [d.split()]
            for i in range(len(ts) - 1)
        )
        for i, d in enumerate(score_texts):
            ts = d.split()
            if len(ts) < 2:
                assert i not in got
                continue
            scores = []
            for a, b in zip(ts, ts[1:]):
                if (a, b) in bi:
                    scores.append(math.log(bi[(a, b)] / uni[a]))
                elif b in uni:
                    scores.append(math.log(0.4 * uni[b] / n_total))
                else:
                    scores.append(-20.0)
            assert got[i][0] == len(scores)
            assert got[i][1] == pytest.approx(round(sum(scores) / len(scores), 6), abs=1e-6)

    check()


def test_bm25_differential_vs_python(spark):
    """Differential test: BM25 scores over random corpora must match a
    pure-Python reference (Lucene idf variant, k1=1.2, b=0.75)."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from otel_arrow_adapter_spark.functions.text import bm25_topk

    word = st.sampled_from(["qq", "ww", "ee", "rr"])
    doc = st.lists(word, min_size=1, max_size=8).map(" ".join)

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(doc, min_size=1, max_size=6))
    def check(texts):
        docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        got = {r.doc_id: r.bm25 for r in bm25_topk(docs, query_terms=("qq", "ww"), k=50).collect()}

        n_docs = len(texts)
        dls = [len(t.split()) for t in texts]
        avgdl = sum(dls) / n_docs
        df = {q: sum(1 for t in texts if q in t.split()) for q in ("qq", "ww")}
        want = {}
        for i, t in enumerate(texts):
            ts = t.split()
            s = 0.0
            for q in ("qq", "ww"):
                tf = ts.count(q)
                if tf == 0 or df[q] == 0:
                    continue
                idf = math.log((n_docs - df[q] + 0.5) / (df[q] + 0.5) + 1.0)
                s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dls[i] / avgdl))
            if s != 0.0 or any(q in ts for q in ("qq", "ww")):
                want[i] = round(s, 6)
        assert set(got) == set(want)
        for i, v in want.items():
            assert got[i] == pytest.approx(v, abs=1e-6)

    check()


def test_hll_sketch_union_merge_law(spark, docs):
    """Spark-native HLL sketches (Datasketches) complete the mergeable-
    sketch story alongside CMS and the exp-hist quantile sketch: per-lang
    partial sketches hll_union_agg to EXACTLY the whole-corpus sketch's
    estimate (same algorithm, deterministic), and estimates stay within
    the configured relative error of the exact distinct count."""
    whole = docs.select(
        F.hll_sketch_estimate(F.hll_sketch_agg("doc_id", F.lit(14))).alias("est")
    ).collect()[0].est
    per_lang = docs.groupBy("lang").agg(F.hll_sketch_agg("doc_id", F.lit(14)).alias("sk"))
    merged = per_lang.select(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(True))).alias("est")
    ).collect()[0].est
    assert merged == whole
    exact = docs.select("doc_id").distinct().count()
    assert abs(whole - exact) / exact < 0.05


def test_incremental_dedup_two_increments_compose(spark):
    """The production loop closes: batch-1 keeps append to the index, and
    a batch-2 copy of a batch-1 keep then classifies exact_dup — dedup
    state accumulates across increments exactly like the streaming form,
    but through plain index-table appends."""
    from otel_arrow_adapter_spark.functions.dedup import incremental_dedup

    index0 = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    batch1 = spark.createDataFrame(
        [(10, "one two three four"), (11, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    r1 = {r.doc_id: r for r in incremental_dedup(batch1, index0).collect()}
    assert r1[10].keep and not r1[11].keep
    # append batch-1 keeps to the index state
    keeps = [i for i, r in r1.items() if r.keep]
    index1 = index0.unionByName(
        batch1.where(F.col("doc_id").isin(keeps))
    )
    batch2 = spark.createDataFrame(
        [(20, "one two three four"), (21, "five six seven eight")],
        "doc_id long, text string",
    )
    r2 = {r.doc_id: r for r in incremental_dedup(batch2, index1).collect()}
    assert r2[20].reason == "exact_dup" and not r2[20].keep
    assert r2[21].reason == "new" and r2[21].keep


def test_ivfpq_trained_end_to_end(spark, emb):
    """Both trained paths composed: kmeans_train centroids for the coarse
    probe and pq_train_codebooks for ADC — returns k ranked rows whose
    members all come from probed lists (the full trained IVFADC)."""
    from otel_arrow_adapter_spark.functions.similarity import (
        assign_to_centroids,
        ivfpq_search,
        kmeans_train,
        pq_train_codebooks,
    )

    cents = kmeans_train(emb, n_centroids=5, iters=2)
    cbs = pq_train_codebooks(emb, m=8, n_codes=8, iters=1, dim=64)
    got = ivfpq_search(
        emb, query_vec_id=0, k=10, n_centroids=5, n_probe=2,
        m=8, n_codes=8, dim=64, centroids=cents, codebooks=cbs,
    ).collect()
    assert len(got) == 10
    assert [r.rank for r in got] == list(range(1, 11))
    assigned = {r.vec_id: r.centroid_id for r in assign_to_centroids(emb, cents).collect()}
    assert len({assigned[r.vec_id] for r in got}) <= 2
    cents.unpersist()
    cbs.unpersist()
