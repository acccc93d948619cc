"""S2/S6/S8 sources: columnar readers for parquet paths and catalog tables.

The production source is an Iceberg table partitioned by
(bucket(conv_id), days(ts)) — partition pruning + min/max stats play the
role of the reference's per-stream schema state (SURVEY.md §2.1 S5). A
catalog table name reads through the session's catalog, so the call
sites are format-agnostic; the sandbox image has no Iceberg runtime jar
and reads parquet paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def read_transcripts(spark: SparkSession, source: str) -> DataFrame:
    """Read a transcripts table: ``source`` is a parquet path when it ends
    in ``.parquet`` or holds a ``/``, else a catalog table name (an
    Iceberg table where the catalog is configured). S6 file-receiver
    analog (replay source)."""
    if source.endswith(".parquet") or "/" in source:
        return spark.read.parquet(source)
    return spark.table(source)


def write_capture(df: DataFrame, path: str, fmt: str = "json", compression: str = "gzip") -> None:
    """S7 file-exporter analog: capture telemetry as compressed JSON lines
    (or CSV) for later replay
    (/root/reference/collector/gen/exporter/fileexporter — JSON lines +
    zstd per docs/validation_process.md:50-55). Default codec is gzip here:
    text-source zstd needs the Hadoop native lib, absent from this image —
    pass compression="zstd" where it exists (parquet zstd is unaffected)."""
    w = df.write.mode("overwrite").option("compression", compression)
    if fmt == "json":
        w.json(path)
    elif fmt == "csv":
        w.option("header", True).csv(path)
    else:
        raise ValueError(f"unsupported capture format: {fmt}")


def read_capture(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """S6/S8 replay source: re-read captured telemetry (JSON lines,
    zstd transparent) with an explicit schema — schema inference on
    compressed captures is a full extra pass at scale
    (/root/reference/collector/receiver/filereceiver/file_reader.go:81-163;
    dataset loaders pkg/benchmark/dataset/real_logs_dataset.go:77-157).
    Pacing/replay-timer analog for streams: ``maxFilesPerTrigger`` in
    streaming.read_transcript_stream."""
    r = spark.read
    if schema:
        r = r.schema(schema)
    return r.json(path)
