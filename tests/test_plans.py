"""Physical-plan quality gates: the plans we ship are the plans we'd want
at 100x the data — filters reach the scan, projections prune columns,
small sides broadcast, the fan-out pipeline scans its input once.
(`.explain`-driven, the SURVEY §4 discipline.)"""

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _copy_input(src: str, dst: str) -> None:
    import os
    import shutil

    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copyfile(src, dst)


def test_parquet_filter_and_projection_pushdown(spark, tmp_path):
    # distinct path: other suites cache documents.parquet, and Spark's cache
    # manager substitutes InMemoryRelation into equivalent scans, masking
    # the pushdown under test
    _copy_input(f"{SF}/documents.parquet", f"{tmp_path}/documents.parquet")
    d = (
        spark.read.parquet(f"{tmp_path}/documents.parquet")
        .where(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    plan = _plan(d)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan
    # column pruning: the scan must not read the table's other columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "quality" not in read_schema


def test_enrich_is_broadcast_join(spark, transcripts, small_catalog):
    from otel_arrow_adapter_spark.operators.enrich import enrich_with_catalog
    from otel_arrow_adapter_spark.operators.parse import parse_turns

    plan = _plan(enrich_with_catalog(parse_turns(transcripts), small_catalog))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the catalog must never shuffle the fact side


def _ancestors(plan: str, i: int) -> list[str]:
    """The lines of the nodes above line ``i`` of a tree string: a node's
    depth is the column of its ``+-`` or ``:-`` marker, the root's is -1,
    and unmarked lines (a cached relation's inner plan) are no nodes."""
    import re

    lines = plan.splitlines()

    def depth(j: int) -> int | None:
        m = re.match(r"([ :]*)(\+- |:- )", lines[j])
        return len(m.group(1)) if m else (-1 if j == 0 else None)

    out, d = [], depth(i)
    for j in range(i - 1, -1, -1):
        dj = depth(j)
        if dj is not None and dj < d:
            out.append(lines[j])
            d = dj
    return out


def test_surrogate_ids_broadcast_both_dims(spark, transcripts):
    """Both dense ids come from ONE dimension: one aggregate over the
    (tool, role) columns, attached to the fact side by a broadcast hash
    join (never a shuffle join)."""
    from otel_arrow_adapter_spark.operators.normalize import assign_surrogate_ids
    from otel_arrow_adapter_spark.operators.parse import parse_turns

    df = assign_surrogate_ids(parse_turns(transcripts))
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    lines = plan.splitlines()
    for id_name in ("res_id", "scope_id"):
        made = [i for i, line in enumerate(lines) if f" AS {id_name}#" in line]
        assert made, (id_name, plan)
        for i in made:
            up = _ancestors(plan, i)
            assert any("BroadcastExchange" in a for a in up), (id_name, up)
            assert any("BroadcastHashJoin" in a for a in up), (id_name, up)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    aggs = [line for line in optimized.splitlines() if line.lstrip(" :+-").startswith("Aggregate")]
    assert len(aggs) == 1, aggs
    assert "tool" in aggs[0] and "role" in aggs[0], aggs


def test_pipeline_counts_one_full_width_scan(spark, small_catalog, tmp_path):
    """The flagship parse->enrich->route->count lineage must scan the full
    payload exactly once (fan-out via one labeled projection, not per-sink
    reads). The one surrogate-id dimension build re-scans once, column-pruned
    to its dim columns — at 100 TB that is a narrow-column scan, never a
    full-width re-read."""
    import os
    import re

    from otel_arrow_adapter_spark.datagen import transcripts_from_events
    from otel_arrow_adapter_spark.plans import build_labeled

    # distinct input path: the session fixture cached the same lineage over
    # SF, and Spark's cache manager substitutes InMemoryRelation into any
    # equivalent sub-plan, hiding the scan/pruning behavior under test
    os.makedirs(f"{tmp_path}/sf", exist_ok=True)
    _copy_input(f"{SF}/events.parquet", f"{tmp_path}/sf/events.parquet")
    labeled = build_labeled(transcripts_from_events(spark, f"{tmp_path}/sf"), small_catalog)
    counts = labeled.groupBy("sink").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(counts)
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    full = [s for s in scans if "value" in s]  # the payload column
    narrow = [s for s in scans if "value" not in s]
    assert len(full) == 1, f"payload scanned {len(full)}x: {scans}"
    assert len(narrow) == 1, f"dim input scanned {len(narrow)}x: {narrow}"
    assert narrow[0].count(",") <= 1, f"dim scan not pruned: {narrow}"


def test_pipeline_job_count(spark, small_catalog, tmp_path):
    """One dense unbucketed ``run_pipeline`` call, counts collected, runs at
    most 10 Spark jobs on the fixture: one dimension build for both ids and
    no schema-inference reads in the counts tail. Every job costs driver
    planning, scheduling and JIT time at benchmark scale."""
    import os

    from otel_arrow_adapter_spark.datagen import transcripts_from_events
    from otel_arrow_adapter_spark.plans import run_pipeline

    # an uncached copy: the session fixture caches the same lineage
    os.makedirs(f"{tmp_path}/sf", exist_ok=True)
    _copy_input(f"{SF}/events.parquet", f"{tmp_path}/sf/events.parquet")
    sc = spark.sparkContext
    group = "test-pipeline-job-count"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        counts = run_pipeline(
            spark,
            transcripts_from_events(spark, f"{tmp_path}/sf"),
            small_catalog,
            str(tmp_path / "out"),
            resume=False,
        )
        rows = counts.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sum(r["n_rows"] for r in rows) == 1000
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 10, f"{len(jobs)} jobs"


# Spark jobs per dedup-chain query, built from the registry at sf0.001 and
# collected. One doc-grain signature table feeds the LSH banding and the
# Jaccard verify, the first label step of dup_clusters is join-free, and
# the documents reads name their schema; the edges-join, shingle-table
# chain ran 24, 31, 29 and 35 jobs here.
DEDUP_CHAIN_JOBS = {
    "doc_dup_clusters": 17,
    "doc_clean_corpus_near": 23,
    "doc_leakage_free_split": 21,
    "doc_incremental_dedup": 27,
}


def test_dedup_chain_job_count(spark):
    """Each dedup-chain query runs at most its measured number of Spark
    jobs: at benchmark scale the chain's CPU tracks its job and stage
    count (query planning, scheduling and JIT), not its data."""
    import __spark_entry__ as entrymod

    sc = spark.sparkContext
    got = {}
    for name in DEDUP_CHAIN_JOBS:
        group = f"test-dedup-chain-job-count-{name}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            res = entrymod.QUERIES[name](spark, SF)
            assert res.collect()
            res.unpersist()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert all(got[n] <= DEDUP_CHAIN_JOBS[n] for n in got), got


def test_documents_schema_matches_footers(spark):
    """The named ``documents`` schema of queries/docs.py is the Parquet
    footer schema of every fixture scale: a named schema reads a renamed
    or retyped column as silent nulls instead of failing."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from otel_arrow_adapter_spark.queries.docs import DOCUMENTS_SCHEMA

    named = spark.createDataFrame([], DOCUMENTS_SCHEMA).schema
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        footer = from_arrow_schema(pq.read_schema(f"{os.path.dirname(SF)}/{sf}/documents.parquet"))
        assert named == footer, sf


def test_no_unpartitioned_window_in_query_surface(spark):
    """No query's physical plan may move the fact table into a single
    unpartitioned Window (the round-1 scale-killer). Dimension-table ranks
    are windowless (ranked_dim), so ANY empty partition spec is a bug."""
    import __spark_entry__ as entrymod

    # the queries that previously used global windows + a sample of others
    suspects = [
        "pipeline_delta_ids",
        "pipeline_dict_tool",
        "emb_cosine_topk",
        "pipeline_delta_encode",
        "doc_minhash_sig",
        # every other caller of the shared windowless top-k tail
        "emb_quantized_topk",
        "emb_ivf_search",
        "emb_ivf_search_trained",
        "emb_ivfpq_search",
        "emb_pq_search",
        "doc_bm25_topk",
        "emb_kmeans_centroids",
    ]
    qs = entrymod.QUERIES
    for name in suspects:
        df = qs[name](spark, SF)
        # a checkpointed result plans as one scan; gate the plan that made it
        plan = _plan(getattr(df, "pre_checkpoint", df))
        for line in plan.splitlines():
            if "Window " in line or line.strip().startswith("Window"):
                # Spark prints 'windowspecdefinition(<order only>)' with no
                # partition columns when the spec is empty
                assert "windowspecdefinition(" not in line or not _empty_spec(line), (
                    f"{name}: unpartitioned window: {line.strip()}"
                )


def _empty_spec(line: str) -> bool:
    # empty partition spec renders as windowspecdefinition(<sort col> ASC ...
    # vs partitioned: windowspecdefinition(p1, p2, <sort col> ASC ...
    inner = line.split("windowspecdefinition(", 1)[1]
    head = inner.split("ASC", 1)[0].split("DESC", 1)[0]
    return "," not in head


def test_default_write_sort_keys_are_native_columns(spark):
    """The shipped write strategy must compile to bare column sort keys —
    the per-sink CASE string expression in the sort comparator measured a
    ~35% write-path regression on 17.8M rows (see route.py); only the
    explicitly-chosen per-sink strategies may pay it."""
    from pyspark.sql import functions as F

    from otel_arrow_adapter_spark.operators.route import (
        SORT_STRATEGIES,
        sink_sort_exprs,
    )

    df = spark.createDataFrame(
        [("c", 0, "logs", 1, 2, "E", "m", "s", "e", None)],
        "conv_id string, turn_idx int, sink string, res_id long, scope_id long,"
        "severity_text string, metric_name string, span_hex string, error string,"
        "parent_hex string",
    ).withColumn("ts", F.current_timestamp())
    exprs = sink_sort_exprs(df, SORT_STRATEGIES["shared_native"])
    # every key is a bare attribute reference (no CASE WHEN / casts)
    for e in exprs:
        s = e._jc.toString()
        assert "CASE" not in s and "cast" not in s.lower(), s
    # and the per-sink default strategy pays exactly ONE divergent position
    exprs_cased = sink_sort_exprs(df, SORT_STRATEGIES["default"])
    n_case = sum("CASE" in e._jc.toString() for e in exprs_cased)
    assert n_case == 1


def test_bucketed_table_skips_exchange(spark, transcripts, tmp_path):
    """Bucketed co-location: a table pre-bucketed on conv_id satisfies the
    groupBy(conv_id) distribution requirement — the plan must contain NO
    Exchange; and a self-join on conv_id shuffles NEITHER side. (The one
    shuffle was paid at write time; at 10^12 turns this is the difference
    between one shuffle ever and one per job.)"""
    from otel_arrow_adapter_spark.sources.bucketed import read_bucketed, write_bucketed

    write_bucketed(
        transcripts, "t_bucketed", n_buckets=4, path=str(tmp_path / "bucketed")
    )
    try:
        t = read_bucketed(spark, "t_bucketed")
        agg_plan = _plan(t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")))
        assert "Exchange" not in agg_plan, agg_plan
        # hint("merge"): at fixture size the planner would broadcast (and
        # skip bucketing); at 10^12 rows broadcast is off the table and
        # SMJ-over-buckets is exactly the plan — force it to assert the
        # layout contract: NO shuffle on either side
        j = t.alias("a").hint("merge").join(t.alias("b"), "conv_id")
        join_plan = _plan(j.select("conv_id"))
        assert "Exchange hashpartitioning" not in join_plan, join_plan
        assert "SortMergeJoin" in join_plan
        # correctness unchanged by the layout
        assert t.count() == transcripts.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucketed")


def test_producer_stats_counters(spark, tmp_path):
    """stats.go:26-61 analog: dictionary overflow fallbacks, index-type
    widenings, and schema-change stream openings are observable counters
    that land in the ledger."""
    import json

    from otel_arrow_adapter_spark.operators.encode import dict_encode_column
    from otel_arrow_adapter_spark.operators.schema_evo import write_versioned
    from otel_arrow_adapter_spark.plans import Ledger, ProducerStats

    stats = ProducerStats()

    # dictionary: tiny max_card forces the plain-value overflow fallback
    df = spark.createDataFrame([(f"v{i}",) for i in range(10)], "s string")
    enc, dict_df, itype = dict_encode_column(df, "s", max_card=4, stats=stats)
    assert dict_df is None and stats.get("dictionary_overflow_detected") == 1

    # index-type widening across batches: 10 values -> tinyint-range code,
    # then 300 values -> wider code for the SAME column
    small = spark.createDataFrame([(f"v{i}",) for i in range(10)], "s string")
    big = spark.createDataFrame([(f"v{i}",) for i in range(300)], "s string")
    _, _, t1 = dict_encode_column(small, "s", stats=stats)
    _, _, t2 = dict_encode_column(big, "s", stats=stats)
    assert t1 != t2
    assert stats.get("dictionary_index_type_changed") == 1

    # schema change: v1 twice opens ONE stream; v2 opens a second
    out = str(tmp_path / "vers")
    v1 = spark.createDataFrame([(1, "a")], "id int, a string")
    v2 = spark.createDataFrame([(2, "a", True)], "id int, a string, b boolean")
    write_versioned(v1, out, stats=stats)
    write_versioned(v1, out, stats=stats)  # same schema -> no new stream
    write_versioned(v2, out, stats=stats)
    assert stats.get("schema_updates_performed") == 2
    assert stats.get("stream_producers_created") == 2

    # the ledger is the observable surface
    ledger = Ledger(str(tmp_path / "ledger"), "stats-run")
    stats.flush_to_ledger(ledger)
    rows = [json.loads(line) for line in open(f"{tmp_path}/ledger/ledger.jsonl")]
    row = next(r for r in rows if r["partition_key"] == "producer_stats")
    assert row["metrics"]["dictionary_overflow_detected"] == 1
    assert row["metrics"]["schema_updates_performed"] == 2

    # get_and_reset mirrors stats.go GetAndReset
    snap = stats.get_and_reset()
    assert snap["stream_producers_created"] == 2 and stats.as_dict() == {}


def test_merge_exp_histograms_broadcasts_min_scale(spark):
    """The per-group min-scale dimension (one row per key group) must
    broadcast — a shuffled join on the rollup side would add a full
    exchange for a dimension of trivial size."""
    from otel_arrow_adapter_spark.operators.metrics_dp import (
        exp_histogram_rollup,
        merge_exp_histograms,
    )

    df = spark.createDataFrame(
        [("m", "ms", i, v) for i, v in enumerate([1, 2, 3, 100, -5])],
        "metric_name string, metric_unit string, i int, metric_value long",
    )
    fine = exp_histogram_rollup(df.where("i % 2 = 0"), max_buckets=36, scale=1)
    coarse = exp_histogram_rollup(df.where("i % 2 = 1"), max_buckets=18, scale=0)
    plan = _plan(merge_exp_histograms(fine.unionByName(coarse)))
    assert "BroadcastHashJoin" in plan


def test_decontamination_broadcasts_bench_grams(spark):
    """The eval-set n-gram side must broadcast; the corpus side must never
    sort-merge against it (100 TB corpus vs tiny benchmark)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.QUERIES["doc_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_filter_reaches_scan(spark):
    """Sampling is a pure row filter — it must compile to a Filter over the
    scan (no shuffle, no window, no Python) so Catalyst can push it below
    any downstream operator."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.QUERIES["doc_stratified_sample"](spark, SF))
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "Filter" in plan


def test_pii_redact_no_python_no_shuffle(spark):
    """Redaction is chained regexp_replace: map-only, JVM-side."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.QUERIES["doc_pii_redact"](spark, SF))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_conv_quality_single_conv_id_exchange(spark):
    """conv_quality's window and groupBy share the conv_id partitioning:
    exactly ONE exchange over the fact rows (the ordering invariant's own
    shuffle, reused — the groupBy must NOT add a second one)."""
    from otel_arrow_adapter_spark.functions.conversations import conv_quality

    turns = spark.createDataFrame(
        [("c1", 0, "user", "hi"), ("c1", 1, "assistant", "yo")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(conv_quality(turns))
    exchanges = [line for line in plan.splitlines() if "Exchange" in line]
    assert len(exchanges) == 1 and "conv_id" in exchanges[0], plan


def test_pq_search_plan_broadcasts_lut_and_takes_ordered(spark):
    """ADC search: the LUT and codebook joins must broadcast (never
    shuffle the codes side) and the top-k must compile to
    TakeOrderedAndProject, not a global sort."""
    from otel_arrow_adapter_spark.functions.similarity import pq_search_adc

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(pq_search_adc(e, query_vec_id=0, k=10))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bm25_filters_tokens_before_joins(spark):
    """The query-term isin filter must sit below the tf aggregation (the
    post-stats work is query-sized), and idf/stats joins broadcast."""
    from otel_arrow_adapter_spark.functions.text import bm25_topk

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bm25_topk(d, query_terms=("spark", "join"), k=10))
    import re

    assert re.search(r"tok#\d+ IN \(spark,join\)", plan)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_incremental_dedup_no_cartesian(spark):
    """The ingestion gate must never produce a cartesian/nested-loop pair
    scan — band buckets and fingerprints drive every comparison."""
    from otel_arrow_adapter_spark.functions.dedup import incremental_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    out = incremental_dedup(
        d.where(F.col("doc_id") % 3 != 0), d.where(F.col("doc_id") % 3 == 0)
    )
    # inspect the un-truncated producing plan (owned_result returns a
    # lineage-truncated frame whose own plan is a flat LogicalRDD)
    plan = _plan(out.pre_checkpoint)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    out.unpersist()
