"""spark-submit entrypoint for the transcripts pipeline (north rule:
``spark-submit --py-files`` on a multi-executor cluster).

    spark-submit \
      --py-files otel_arrow_adapter_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      --conf spark.sql.shuffle.partitions=<2-3x total cores> \
      --conf spark.driver.defaultJavaOptions="-XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000 -XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000" \
      jobs/run_pipeline_job.py \
      --input  <parquet dir | iceberg table> \
      --output <dir> \
      --catalog-tools 45 --buckets 64 --salt-buckets 16 --resume

Master/memory/executors come from spark-submit (cluster mode); nothing in
the job pins local mode. spark-submit starts the driver JVM before any
Python runs, so the driver's JIT thresholds
(``session.DRIVER_JIT_OPTIONS``) are passed there, as above. The Parquet
timestamp type (``session.PARQUET_TIMESTAMP_TYPE``, INT64 microseconds) is
a runtime SQL conf, so the job sets it on its own session builder and
needs no ``--conf``; without it the routed ``ts`` column would be INT96,
which has no delta encoding. The same
module runs the sandbox bench via
``otel_arrow_adapter_spark.session.get_spark`` instead — see bench.py.

Sizing guidance at 10^12 turns (SURVEY.md §7): input as Iceberg partitioned
bucket(conv_id) x days(ts); --buckets gives checkpoint-resumable units
(each bucket is one ledger entry — pick buckets so a bucket is ~minutes of
work, e.g. 4096); --salt-buckets spreads hot conversations; sinks are
written once via a single dynamic-partition write.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="parquet path or iceberg table of transcripts")
    ap.add_argument("--output", required=True, help="output directory / table prefix")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--buckets", type=int, default=0, help="resumable conv_id hash buckets (0 = single pass)")
    ap.add_argument("--salt-buckets", type=int, default=0, help="salt fan-out for hot conversations")
    ap.add_argument("--id-mode", choices=("dense", "hash"), default="hash",
                    help="surrogate IDs: content-hash (no shuffle; default for clusters) or dense ranks")
    ap.add_argument("--catalog-tools", type=int, default=45, help="synthetic catalog size (or use --catalog-path)")
    ap.add_argument("--catalog-path", default=None, help="parquet path of tool_catalog(tool, service_name, ...)")
    ap.add_argument("--resume", action="store_true", help="skip ledger-done buckets")
    ap.add_argument("--verbatim-text", action="store_true",
                    help="store every raw payload verbatim instead of the default "
                    "payload-level suppression (rebuildable text stored as null)")
    args = ap.parse_args()

    from otel_arrow_adapter_spark.session import PARQUET_TIMESTAMP_TYPE

    spark = (
        SparkSession.builder.appName("otel-arrow-adapter-spark-pipeline")
        .config("spark.sql.parquet.outputTimestampType", PARQUET_TIMESTAMP_TYPE)
        .getOrCreate()
    )

    from otel_arrow_adapter_spark.datagen import synthesize_tool_catalog
    from otel_arrow_adapter_spark.plans import run_pipeline
    from otel_arrow_adapter_spark.sources import read_transcripts

    if args.catalog_path:
        catalog = spark.read.parquet(args.catalog_path)
    else:
        catalog = synthesize_tool_catalog(spark, n_tools=args.catalog_tools)

    counts = run_pipeline(
        spark,
        read_transcripts(spark, args.input),
        catalog,
        args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        resume=args.resume,
        id_mode=args.id_mode,
        salt_buckets=args.salt_buckets,
        suppress_text=not args.verbatim_text,
    )
    for row in counts.orderBy("sink").collect():
        print(f"sink={row['sink']} n_rows={row['n_rows']} n_convs={row['n_convs']}")
    spark.stop()


if __name__ == "__main__":
    main()
