"""Deterministic nested-metrics generator (the pmetric.Metrics analog).

One row per metric with its data points nested, mirroring the source shape
the reference's producer walks (ResourceMetrics ⊃ ScopeMetrics ⊃ Metric ⊃
{NumberDP, HistogramDP, SummaryDP} ⊃ Exemplar,
/root/reference/pkg/otel/metrics/arrow/optimizer.go:73-101). Seeded
hash-of-id pseudo-randomness keeps generation a pure column expression
(no driver loop, no Python RNG) like datagen/transcripts.py; optional
fields drop out deterministically (the reference's randomly-missing-fields
fuzz, /root/reference/pkg/datagen/logs.go:116-147).

Shape discipline: children are generated as FLAT rows (explode) and nested
back by the star-schema core's ``nest`` (operators/star.py) — the same
sort_array(collect_list(...)) fold ``decode_metrics`` re-nests the encoded
records with. A first version built the nesting as one giant tree of
array-transform lambdas — 300 rows planned/codegen'd in ~15 s; the flat +
collect form plans in milliseconds and its tiny shuffles are free. Nesting
via sort_array also makes the arrays canonical (leading sort field strictly
increasing), so the decode reproduces the input bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.star import nest

# Metric type tags (reference MetricType u8, metrics.go:41; values follow
# the pmetric enum order loosely: gauge/sum collapse to "number" here).
MT_NUMBER, MT_HISTOGRAM, MT_SUMMARY, MT_EXP_HISTOGRAM = 1, 2, 3, 4

_EPOCH = 1_704_067_200_000_000  # 2024-01-01 UTC, µs

# nested dp-family array -> (metric type, dp struct fields in order)
DP_FAMILIES = {
    "number_dps": (
        MT_NUMBER,
        ("start_ts_us", "ts_us", "int_value", "double_value", "exemplars", "attrs"),
    ),
    "hist_dps": (
        MT_HISTOGRAM,
        ("start_ts_us", "ts_us", "count", "sum", "bucket_counts", "explicit_bounds",
         "min", "max", "exemplars", "attrs"),
    ),
    "exp_hist_dps": (
        MT_EXP_HISTOGRAM,
        ("start_ts_us", "ts_us", "count", "sum", "scale", "zero_count", "positive_offset",
         "positive_bucket_counts", "negative_offset", "negative_bucket_counts", "min", "max",
         "exemplars", "attrs"),
    ),
    "summary_dps": (
        MT_SUMMARY,
        ("start_ts_us", "ts_us", "count", "sum", "quantile_values", "attrs"),
    ),
}


def _attrs(h: Column, d: Column) -> Column:
    """0-2 string attrs per dp, keys in sorted order ('dc' < 'host')."""
    dc = F.struct(
        F.lit("dc").alias("key"), F.format_string("dc-%d", F.pmod(h + d, F.lit(3))).alias("str")
    )
    host = F.struct(
        F.lit("host").alias("key"), F.format_string("h-%d", F.pmod(h + d, F.lit(7))).alias("str")
    )
    return F.filter(
        F.array(
            F.when(F.pmod(h + d, F.lit(4)) != 0, dc),
            F.when(F.pmod(h + d, F.lit(5)) != 0, host),
        ),
        lambda x: x.isNotNull(),
    )


def synthesize_metrics_nested(spark: SparkSession, n_metrics: int = 300, seed: int = 42) -> DataFrame:
    """Nested metrics table: (gen_id, res_id, scope_id, metric_type, name,
    description, unit, aggregation_temporality, is_monotonic, number_dps,
    hist_dps, summary_dps) — exactly one dp family non-empty per row."""
    from .seeds import seed_hash

    base = (
        spark.range(0, n_metrics, 1, spark.sparkContext.defaultParallelism)
        # md5-derived (not xxhash64) so a DuckDB oracle can replay the
        # generator exactly — see datagen/seeds.py
        .withColumn("h", seed_hash(F.col("id"), seed))
        .withColumn("metric_type", (F.pmod(F.col("h"), F.lit(4)) + 1).cast("tinyint"))
        .withColumn("n_dps", (F.pmod(F.col("h"), F.lit(4)) + 1).cast("int"))
    )

    # ---- flat dp rows -------------------------------------------------
    h, d = F.col("h"), F.col("d")
    dp = base.select(
        F.col("id").alias("gen_id"),
        "h",
        "metric_type",
        F.explode(F.sequence(F.lit(0), F.col("n_dps") - 1)).alias("d"),
    )
    base_ts = F.lit(_EPOCH) + F.col("gen_id") * 1_000_000 + d * 1000
    dp = dp.select(
        "gen_id",
        "h",
        "metric_type",
        "d",
        (base_ts - 5).alias("start_ts_us"),
        base_ts.alias("ts_us"),
        F.when(F.pmod(h + d, F.lit(2)) == 0, F.pmod(h + d, F.lit(100_000))).alias("int_value"),
        F.when(F.pmod(h + d, F.lit(2)) == 1, F.pmod(h + d, F.lit(100_000)) / 7.0).alias(
            "double_value"
        ),
        (F.pmod(h + d, F.lit(50)) + 1).alias("count"),
        (F.pmod(h + d, F.lit(10_000)) / 3.0).alias("sum"),
        F.array(*[F.pmod(h + d + i, F.lit(20)) for i in range(4)]).alias("bucket_counts"),
        F.array(F.lit(10.0), F.lit(100.0), F.lit(1000.0)).alias("explicit_bounds"),
        (F.pmod(h + d, F.lit(10)) * 1.0).alias("min"),
        (F.pmod(h + d, F.lit(10)) * 100.0 + 1).alias("max"),
        F.array(
            *[
                F.struct(
                    F.lit(q).alias("quantile"),
                    (F.pmod(h + d, F.lit(1000)) * q).alias("value"),
                )
                for q in (0.5, 0.9, 0.99)
            ]
        ).alias("quantile_values"),
        F.lit(0).cast("int").alias("scale"),
        F.pmod(h + d, F.lit(3)).alias("zero_count"),
        F.lit(0).cast("int").alias("positive_offset"),
        F.array(*[F.pmod(h + d + 7 * i, F.lit(15)) for i in range(4)]).alias(
            "positive_bucket_counts"
        ),
        F.lit(0).cast("int").alias("negative_offset"),
        # mirrored negative-bucket family (ExpHistogramNegative,
        # /root/reference/pkg/otel/metrics/arrow/ehistogram_dp.go:60,84,254)
        F.array(*[F.pmod(h + d + 11 * i, F.lit(9)) for i in range(4)]).alias(
            "negative_bucket_counts"
        ),
        _attrs(h, d).alias("attrs"),
        F.pmod(h + d, F.lit(3)).cast("int").alias("n_ex"),
    )

    # ---- flat exemplar rows -> arrays per dp --------------------------
    ex = dp.where((F.col("n_ex") > 0) & (F.col("metric_type") != MT_SUMMARY)).select(
        "gen_id",
        "d",
        "h",
        "ts_us",
        F.explode(F.slice(F.sequence(F.lit(0), F.lit(1)), 1, F.col("n_ex"))).alias("e"),
    )
    e = F.col("e")
    ex_rows = ex.select(
        "gen_id",
        "d",
        (F.col("ts_us") + e + 1).alias("ts_us"),
        F.when(F.pmod(F.col("h") + e, F.lit(2)) == 0, F.pmod(F.col("h") + e, F.lit(500))).alias(
            "int_value"
        ),
        F.when(
            F.pmod(F.col("h") + e, F.lit(2)) == 1, F.pmod(F.col("h") + e, F.lit(500)) / 8.0
        ).alias("double_value"),
        F.format_string("%016x", F.pmod(F.col("h") + e, F.lit(0xFFFF)) + 1).alias("span_hex"),
        F.format_string("%032x", F.pmod(F.col("h") + e, F.lit(0xFFFFF)) + 1).alias("trace_hex"),
    )
    dp = nest(dp, ex_rows, "exemplars", on=("gen_id", "d"), by=("gen_id", "d"))

    h0 = F.col("h")
    out = base.select(
        F.col("id").alias("gen_id"),
        F.pmod(h0, F.lit(5)).alias("res_id"),
        F.pmod(h0, F.lit(3)).alias("scope_id"),
        "metric_type",
        F.format_string("metric_%d", F.pmod(F.col("id"), F.lit(20))).alias("name"),
        F.when(
            F.pmod(h0, F.lit(3)) != 0, F.format_string("desc %d", F.pmod(h0, F.lit(9)))
        ).alias("description"),
        F.element_at(
            F.array(F.lit("ms"), F.lit("count"), F.lit("%")),
            (F.pmod(h0, F.lit(3)) + 1).cast("int"),
        ).alias("unit"),
        (F.pmod(h0, F.lit(2)) + 1).cast("int").alias("aggregation_temporality"),
        (F.pmod(h0, F.lit(2)) == 0).alias("is_monotonic"),
    )
    for family, (metric_type, fields) in DP_FAMILIES.items():
        dps = dp.where(F.col("metric_type") == metric_type)
        out = nest(out, dps, family, fields, on=("gen_id",), by=("gen_id",))
    return out


def synthesize_metrics_multivariate(
    spark: SparkSession,
    n_resources: int = 100,
    n_ts: int = 1000,
    n_vars: int = 8,
) -> DataFrame:
    """Multivariate metrics: K values per (resource, timestamp) sharing ONE
    attrs set — the reference's flagship compression case (multivariate
    metrics x7.97 vs OTLP+ZSTD, /root/reference/docs/benchmarks.md:73; the
    univariate model repeats attrs + timestamp once per value). md5-seeded
    (datagen/seeds.py) so a DuckDB oracle replays it exactly.

    Wide shape: (res_id, host, dc, ts_us, v_0..v_{K-1}); id DIV/% split is
    engine-portable integer arithmetic."""
    from .seeds import seed_hash

    base = (
        spark.range(0, n_resources * n_ts, 1, spark.sparkContext.defaultParallelism)
        .withColumn("h", seed_hash(F.col("id"), 42))
        .withColumn("res_id", F.pmod(F.col("id"), F.lit(n_resources)).cast("long"))
        .withColumn("t", F.expr(f"id DIV {n_resources}"))
    )
    # gauge-like values: a stable per-variable level + small variation —
    # real metrics are smooth, which is what makes the layouts' relative
    # overheads (repeated attrs/ts vs shared) visible at all
    return base.select(
        "res_id",
        F.format_string("h-%d", F.pmod(F.col("res_id"), F.lit(20))).alias("host"),
        F.format_string("dc-%d", F.pmod(F.col("res_id"), F.lit(3))).alias("dc"),
        (F.lit(_EPOCH) + F.col("t") * 1_000_000).alias("ts_us"),
        *[
            (F.lit(1000 * j) + F.pmod(F.col("h") + 7919 * j, F.lit(100))).alias(f"v_{j}")
            for j in range(n_vars)
        ],
    )
