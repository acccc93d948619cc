"""SparkSession factory tuned for the pipeline.

Local mode is the sandbox stand-in for a multi-executor cluster; every
setting here is chosen to also be correct at cluster scale:

- AQE on (runtime re-plan, skew-join splitting) — the reference handles
  skew by round-robin multi-stream scheduling
  (/root/reference/collector/gen/exporter/otlpexporter/internal/arrow/exporter.go:125-179);
  we let AQE + explicit salting do it.
- shuffle.partitions ~ cores locally; on a real cluster AQE coalesces.
- Arrow execution on for pandas-UDF stages (vectorized batch transfer),
  maxRecordsPerBatch plays the role of the reference's batch unit
  (/root/reference/pkg/otel/arrow_record/producer.go:328-422 per-batch IPC).
- UTC session timezone for DuckDB-oracle parity.
- Generated-code cache sized to the measured working set
  (``CODEGEN_CACHE_ENTRIES``). Spark keeps 100 compiled whole-stage
  classes by default; one pass of the four dedup-chain queries needs ~240
  and one pass over the query registry ~1.7 k, so with the default the
  classes evict each other in a cycle and every repeated operation
  recompiles (Janino, then the JIT) what it compiled last time.
- Driver JIT thresholds (``DRIVER_JIT_OPTIONS``): HotSpot's tier-4 (C2)
  thresholds at 5x their defaults. Spark's planner and scheduler code has a
  flat profile, so with the defaults thousands of lukewarm methods are
  C2-compiled during the first operations of a session; raised, they stay
  on C1 code while truly hot loops still reach C2. Set as
  ``spark.driver.defaultJavaOptions``, which Spark puts ahead of a
  caller's ``spark.driver.extraJavaOptions``.
- Parquet ``TimestampType`` as INT64 microseconds
  (``PARQUET_TIMESTAMP_TYPE``) instead of Spark's 12-byte INT96. INT96 has
  no delta encoding; INT64 does, so on the routed table's v2 pages
  (``operators/route.py::_routed_writer``) the sorted ``ts`` column is
  written DELTA_BINARY_PACKED, as ``log_ts_us`` (already int64) is. Values
  and the logical type read back unchanged. It is a session SQL conf, not
  a write option: Spark's parquet writer reads it from the session only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Distinct generated classes one operation compiles on a cold cache
# (CodegenMetrics compilation count), pyspark 4.1.2:
#   one pass of the four dedup-chain queries   240 (sf0.001, local[4])
#   one ingest pipeline run                      47 (local[4])
#   one pass over every registered query      1,696 (sf0.001, local[4])
#                                             1,698 (sf0.01, local[8])
# The smallest power of two above the largest count keeps the whole
# registry compiled for the life of a session.
CODEGEN_CACHE_ENTRIES = 2048

# HotSpot tier-4 (C2) thresholds at 5x the JDK 17 defaults (5000, 600,
# 15000, 40000). JIT work per operation, `jstat -compiler` deltas on the
# perfbench JVM (seed 1101, local[4], pyspark 4.1.2, JDK 17; compile
# seconds summed over the 3 compiler threads), methods / compile s,
# default -> these:
#   dedup pass 1 (warm-up)          18,588 / 40.9   ->  16,964 / 25.0
#   dedup pass 2 (the timed one)     4,133 / 13.7   ->   3,461 /  4.3
#   dedup pass 3                     2,789 /  7.2   ->   2,323 /  3.6
#   dedup pass 4                     1,695 /  5.5   ->   1,532 /  4.6
#   ingest operation 7 (first timed)   945 /  2.3   ->     731 /  1.8
# Rejected (perfbench, against this setting's dedup cpu_s median of 14.9 s
# over seeds 911-915):
#   -XX:TieredStopAtLevel=1 (C1 only): dedup's second pass 20.0 -> 11.0
#     CPU s, but a steady ingest operation 4.43 -> 5.62 CPU s (+27%) and
#     1.9 -> 3.1 s wall: the parse/write loops need C2.
#   -XX:CompileThresholdScaling=3 (every tier): dedup cpu_s median 17.0 s
#     over the same seeds.
#   10x tier-4 thresholds: dedup 17.6 CPU s in one profiling run, no better
#     than 5x, and steady ingest operations slower (5-6.7 CPU s).
# Like the codegen cache size, these apply only to a JVM that get_spark
# launches: a driver JVM that is already running (spark-submit, a notebook,
# a vanilla getOrCreate before this) keeps its own; pass them there with
# --conf spark.driver.defaultJavaOptions="...".
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=25000 "
    "-XX:Tier4MinInvocationThreshold=3000 "
    "-XX:Tier4CompileThreshold=75000 "
    "-XX:Tier4BackEdgeThreshold=200000"
)


# Physical Parquet type of TimestampType columns in every write of a
# get_spark session (spark.sql.parquet.outputTimestampType). Routed bytes
# per turn, perfbench ingest seed 1 (60,482 turns, local[4]): INT96 on v1
# pages 16.51, INT96 on v2 pages 15.96, INT64 on v1 pages 15.58, INT64 on
# v2 pages 13.31 -- the delta encoding needs both.
PARQUET_TIMESTAMP_TYPE = "TIMESTAMP_MICROS"


def get_spark(
    app_name: str = "otel_arrow_adapter_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real
    cluster the master/memory settings come from spark-submit instead;
    everything set here is master-agnostic except ``local[N]``.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.outputTimestampType", PARQUET_TIMESTAMP_TYPE)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
