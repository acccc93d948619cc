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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
