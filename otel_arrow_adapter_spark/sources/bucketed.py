"""Bucketed co-located layout (the shuffle-elimination storage contract).

The reference schedules work round-robin over ``numStreams`` with no data
co-location (exporter.go:125-179); at 10^12 turns the analogous Spark
lever is the opposite discipline: pay ONE shuffle at write time by
bucketing the table on the join/group key, and every later groupBy/join
on that key skips its Exchange entirely — repeated per-conversation work
(sessionization, ordering windows, conversation joins) reads pre-shuffled
files. In production this is Iceberg's ``bucket(conv_id)`` partition
transform; Spark-native ``bucketBy`` tables carry the same contract here
and make the plan effect testable (test_plans gates the absent Exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Write ``df`` as a table bucketed on ``conv_id`` and sorted by
    (conv_id, turn_idx) within each file. ``path`` makes it external
    (tests pass a tmp dir); sorting within buckets gives the same
    sort-for-compression benefit as the routed sinks."""
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .option("compression", "zstd")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — REQUIRED for the bucketing metadata to reach the
    planner (a plain parquet path read forgets the bucket spec)."""
    return spark.table(table)
