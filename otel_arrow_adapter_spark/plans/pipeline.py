"""End-to-end plan: parse -> normalize -> enrich -> route -> aggregate.

This replaces the reference's Producer.BatchArrowRecordsFromLogs walk
(SURVEY.md §3.1) with ONE declarative DataFrame lineage: Catalyst/AQE pick
the physical plan; the hand-placed physical choices are the broadcast hint
on the catalog join, the optional salted repartition for hot conversations,
the sort-before-write, and the single dynamic-partition fan-out write
(scan once, write once — four independent sink writes would recompute the
upstream 4x, which is the difference between 1x and 4x scan cost at 100 TB).

Resumability: conv_id hash buckets; each bucket is one ledger
partition_key; a restart skips 'done' buckets (per-bucket directories are
overwritten atomically on retry — no loss, no duplication).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.parse import parse_turns
from ..operators.parse_arrow import parse_turns_arrow
from ..operators.normalize import assign_surrogate_ids
from ..operators.enrich import enrich_with_catalog
from ..operators.route import label_sinks, read_sinks, write_routed
from ..caching import materialize_scope
from .ledger import Ledger
from .stats import ProducerStats


def build_labeled(
    transcripts: DataFrame,
    catalog: DataFrame | None = None,
    id_mode: str = "dense",
    salt_buckets: int = 0,
    parse_impl: str = "sql",
) -> DataFrame:
    """The full logical plan, unexecuted: one wide DataFrame with a ``sink``
    label per row.

    ``salt_buckets`` > 0 repartitions on (conv_id, salt) — spreads hot
    conversations across tasks without breaking per-conv ordering (windows
    downstream re-sort within conv_id).

    ``parse_impl``: "sql" = JVM expression tokenizer (operators/parse.py),
    "arrow" = vectorized Arrow UDF (operators/parse_arrow.py). Both are
    property-tested equal; "sql" measures ~2x faster end-to-end on this
    sandbox (no Arrow transfer), "arrow" exists as the pandas/Arrow-UDF
    scale path the north star names and sidesteps JVM-heap contention on
    hosts with many real cores."""
    df = transcripts
    if salt_buckets > 0:
        df = df.repartition(
            F.col("conv_id"), (F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt_buckets))).alias("salt")
        )
    parsed = parse_turns_arrow(df) if parse_impl == "arrow" else parse_turns(df)
    parsed = assign_surrogate_ids(parsed, mode=id_mode)
    if catalog is not None:
        parsed = enrich_with_catalog(parsed, catalog)
    return label_sinks(parsed)


def counts_from_routed(routed: DataFrame, run_id: str) -> DataFrame:
    """A4: per-sink aggregates in one groupBy (single scan of the output)."""
    return routed.groupBy("sink").agg(
        F.lit(run_id).alias("run_id"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: DataFrame | None,
    out_dir: str,
    run_id: str = "run-0",
    n_buckets: int = 0,
    resume: bool = True,
    id_mode: str = "dense",
    salt_buckets: int = 0,
    parse_impl: str = "sql",
    suppress_text: bool = True,
) -> DataFrame:
    """Execute the plan, write the routed table + counts, return counts.

    ``suppress_text`` defaults ON here: with the shared_native sort keys
    the rebuild-guard compute is fully paid back by the ~35% smaller
    routed output (measured in BENCH/BASELINE.md, both configs), so the
    pipeline default wins on bytes and ties on throughput."""
    if n_buckets <= 0:
        labeled = build_labeled(transcripts, catalog, id_mode, salt_buckets, parse_impl)
        write_routed(labeled, out_dir, suppress_text=suppress_text)
    else:
        # Resumable mode: ONE pass over the input for ALL remaining buckets.
        # (A per-bucket loop re-scans the source n_buckets times — at 100 TB
        # with 64 buckets that's 64 full input scans for one job.) The bucket
        # is a layout partition of a single dynamic-partition write; a resume
        # filters undone buckets at the SCAN (one predicate) and dynamic
        # overwrite touches only the partitions it writes, so done buckets'
        # files are never rewritten — no loss, no duplication.
        ledger = Ledger(f"{out_dir}/_ledger", run_id)
        done = ledger.done_keys() if resume else set()
        todo = [b for b in range(n_buckets) if f"bucket={b}" not in done]
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
        if todo:
            for b in todo:
                ledger.record(f"bucket={b}", "started")
            part = transcripts if len(todo) == n_buckets else transcripts.where(
                bucket.isin([int(b) for b in todo])
            )
            labeled = build_labeled(part, catalog, id_mode, salt_buckets, parse_impl)
            labeled = labeled.withColumn("bucket", bucket)
            write_routed(
                labeled, out_dir, extra_partition_cols=("bucket",), suppress_text=suppress_text
            )
            # ledger metrics from ONE scan of the (columnar, pruned) output —
            # the ProducerStats analog (stats.go:26-43), per (bucket, sink)
            stats = (
                spark.read.parquet(f"{out_dir}/routed")
                .where(F.col("bucket").isin([int(b) for b in todo]))
                .groupBy("bucket", "sink")
                .count()
                .collect()
            )
            per_bucket: dict[int, dict[str, int]] = {b: {} for b in todo}
            for r in stats:
                per_bucket.setdefault(r["bucket"], {})[r["sink"]] = r["count"]
            for b in todo:
                metrics = per_bucket.get(b, {})
                ledger.record(f"bucket={b}", "done", sum(metrics.values()), metrics)
            # ProducerStats batch counters (stats.go:29-34: *BatchesProduced):
            # one "batch" = one (bucket, sink) partition written this run
            pstats = ProducerStats()
            for r in stats:
                pstats.inc(f"{r['sink']}_batches_produced")
            pstats.flush_to_ledger(ledger)

    routed = spark.read.parquet(f"{out_dir}/routed")
    counts = counts_from_routed(routed, run_id)
    counts.write.mode("overwrite").parquet(f"{out_dir}/sink_counts")
    return spark.read.parquet(f"{out_dir}/sink_counts")


def pipeline_sinks(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Typed per-sink views over a completed run's output."""
    return read_sinks(spark, out_dir)


def replay_quarantine(
    spark: SparkSession,
    catalog: DataFrame,
    out_dir: str,
    run_id: str = "replay-0",
    n_buckets: int = 0,
) -> DataFrame:
    """Dead-letter reprocessing: re-run quarantined rows against an updated
    catalog and move the now-valid ones into their proper sinks.

    The quarantine sink is the pipeline's dead-letter queue (unknown tools,
    unparseable text). When the catalog gains the missing tools, this
    replays ONLY the quarantine partition(s) (never the healthy sinks'
    data): re-parse -> re-enrich -> re-route; newly-valid rows APPEND to
    their signal sinks, the remainder is rewritten as the new quarantine,
    and any quarantine partition whose rows ALL recovered is deleted
    outright — a dynamic overwrite alone would leave a fully-recovered
    partition's old files on disk (empty writes touch no partitions),
    duplicating every recovered row. Returns per-sink replayed-row counts.

    For a bucketed/resumable run (``run_pipeline(n_buckets>0)``) the routed
    layout is bucket=*/sink=*; pass the SAME ``n_buckets`` so the replay
    re-derives each row's bucket (pure projection on conv_id — no join) and
    rewrites bucket-scoped quarantine partitions. Production target is one
    Iceberg ``DELETE FROM routed WHERE sink='quarantine'`` + append in a
    single transaction; the partition-dir delete is the parquet-layout
    analog of that metadata operation. Partition deletes go through the
    Hadoop FileSystem API resolved from ``out_dir``'s scheme — a file:// or
    hdfs/s3a URI deletes the same partitions a bare local path does (a
    local glob would silently match nothing on a URI, leaving the old
    quarantine files in place and re-introducing row duplication)."""
    import re as _re

    from ..operators.route import restore_text

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(out_dir).getFileSystem(spark._jsc.hadoopConfiguration())

    routed = spark.read.parquet(f"{out_dir}/routed")
    bucketed = "bucket" in routed.columns
    if bucketed and n_buckets <= 0:
        raise ValueError(
            "routed table is bucket-partitioned (bucket=*/sink=*); pass the "
            "pipeline's n_buckets so replay can re-derive bucket labels"
        )

    # stage the dead-letter rows OUT of the routed dir first: Spark cannot
    # overwrite a path a live plan still reads, and the replay must see a
    # consistent pre-replay snapshot
    staging = f"{out_dir}/_replay_staging"
    (
        restore_text(routed.where(F.col("sink") == "quarantine"))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .write.mode("overwrite")
        .parquet(staging)
    )
    relabeled = build_labeled(spark.read.parquet(staging), catalog)
    if bucketed:
        # same derivation as run_pipeline — rows land back in their bucket
        relabeled = relabeled.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
        )
    with materialize_scope() as m:
        relabeled = m.keep(relabeled)
        counts = relabeled.groupBy("sink").agg(F.count(F.lit(1)).alias("n_rows"))
        extra = ("bucket",) if bucketed else ()
        remainder = relabeled.where(F.col("sink") == "quarantine")
        # append recovered rows to their signal sinks (dynamic append —
        # healthy partitions gain files, nothing is rewritten)
        write_routed(
            relabeled.where(F.col("sink") != "quarantine"),
            out_dir,
            mode="append",
            extra_partition_cols=extra,
            suppress_text=True,
        )
        # rewrite the quarantine partitions that still HAVE a remainder...
        if bucketed:
            live = {r[0] for r in remainder.select("bucket").distinct().collect()}
            if live:
                write_routed(
                    remainder, out_dir, mode="overwrite",
                    extra_partition_cols=extra, suppress_text=True,
                )
            # ...and delete the ones that fully recovered: their rows were
            # just appended to signal sinks, so the old files are duplicates
            for st in fs.globStatus(
                hpath(f"{out_dir}/routed/bucket=*/sink=quarantine")
            ) or []:
                d = st.getPath()
                b = int(_re.search(r"bucket=(-?\d+)", d.toString()).group(1))
                if b not in live:
                    fs.delete(d, True)
        else:
            n_rem = next(
                (r["n_rows"] for r in counts.collect() if r["sink"] == "quarantine"), 0
            )
            if n_rem > 0:
                write_routed(remainder, out_dir, mode="overwrite", suppress_text=True)
            else:
                fs.delete(hpath(f"{out_dir}/routed/sink=quarantine"), True)
        counts.withColumn("run_id", F.lit(run_id)).write.mode("append").parquet(
            f"{out_dir}/replay_counts"
        )
    return spark.read.parquet(f"{out_dir}/replay_counts").where(F.col("run_id") == run_id)
