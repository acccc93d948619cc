"""Metrics data-point queries: the NumberDP/HistogramDP/ExpHistogramDP/
SummaryDP + exemplars star schema over metric-classified turns
(pkg/otel/metrics/arrow/related_data.go:82-156).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import materialize_scope, owned_result
from ..datagen.metrics import synthesize_metrics_multivariate, synthesize_metrics_nested
from ..operators.metrics_dp import (
    cumulative_to_delta,
    encode_metrics,
    exp_histogram_rollup,
    exp_histogram_rollup_pair,
    explode_univariate,
    histogram_rollup,
    merge_exp_histograms,
    summary_rollup,
    top_exemplars,
)
from ..operators.normalize import ranked_dim
from .pipeline import _parsed, _record_counts


HIST_BOUNDS = [50.0, 500.0, 5000.0, 50000.0]


def _metric_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir).where(F.col("signal_type") == "metric")


def _delta_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric points with ``value_delta``: the signed delta from a 1000-unit
    baseline that every exp-histogram query rolls up."""
    return _metric_points(spark, sf_dir).withColumn(
        "value_delta", F.col("metric_value") - F.lit(1000)
    )


def _exp_hist_rows(eh: DataFrame) -> DataFrame:
    """An exp-histogram rollup's output columns, bucket arrays rendered
    with array_join."""
    return eh.select(
        "metric_name",
        "metric_unit",
        "count",
        "sum",
        "scale",
        "zero_count",
        "positive_offset",
        F.array_join("positive_bucket_counts", ",").alias("positive_bucket_counts"),
        "negative_offset",
        F.array_join("negative_bucket_counts", ",").alias("negative_bucket_counts"),
        "min",
        "max",
    )


def q_pipeline_metrics_number_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NumberDP related record: points keyed by a surrogate parent metric id
    (number_data_point.go:36-47 shape; parent = the main METRICS record)."""
    pts = _metric_points(spark, sf_dir)
    dim = ranked_dim(pts, ("metric_name", "metric_unit"), "metric_id").select(
        F.col("metric_name").alias("__d_name"),
        F.col("metric_unit").alias("__d_unit"),
        "metric_id",
    )
    # null-safe join: metric_unit is optional (the synthetic generator drops
    # it ~1/3 of the time) — a plain equi-join would silently drop unit-less
    # points while the oracle's dense_rank keeps them
    cond = F.col("metric_name").eqNullSafe(F.col("__d_name")) & F.col(
        "metric_unit"
    ).eqNullSafe(F.col("__d_unit"))
    return pts.join(F.broadcast(dim), cond).select(
        "metric_id", "conv_id", "turn_idx", F.col("metric_value").alias("int_value")
    )


def q_pipeline_metrics_hist_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HistogramDP rollup: bucket_counts (array<long>) over explicit bounds +
    count/sum/min/max (histogram_dp.go:50-66 shape). Arrays compared as
    JSON (engine-portable for integer arrays)."""
    hist = histogram_rollup(_metric_points(spark, sf_dir), bounds=HIST_BOUNDS)
    return hist.select(
        "metric_name",
        "metric_unit",
        "count",
        "sum",
        "min",
        "max",
        F.to_json("bucket_counts").alias("bucket_counts"),
    )


def _exp_hist_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """18-bucket exp-histogram rollup of each metric point's signed delta
    from a 1000-unit baseline: the exp_hist_dp query's rollup and the
    input of both metrics capture round-trips."""
    return exp_histogram_rollup(
        _delta_points(spark, sf_dir), max_buckets=18, value_col="value_delta"
    )


def q_pipeline_metrics_exp_hist_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExpHistogramDP rollup with positive AND mirrored negative bucket
    families (ehistogram_dp.go:47-64,60 shape) over a signed value (the
    point's delta from a 1000-unit baseline — signed metrics are exactly
    where the negative family matters). Bucket indices are explicit integer
    boundary comparisons and every output is integer-typed; arrays are
    rendered with array_join (to_json whitespace and double formatting are
    engine-version-dependent)."""
    return _exp_hist_rows(_exp_hist_delta(spark, sf_dir))


def q_pipeline_metrics_exp_hist_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExpHistogramDP rollup at NONZERO base-2 scale (scale=1: bucket base
    sqrt(2), twice the resolution of scale 0 — the int32 scale field the
    reference transports per point, ehistogram_dp.go:57,81). Boundaries are
    exact integers from nested isqrt (metrics_dp.exp2_lower_bound), so both
    engines bucket by integer comparison only; 36 buckets cover the same
    value range as the scale-0/18 family."""
    eh = exp_histogram_rollup(
        _delta_points(spark, sf_dir), max_buckets=36, value_col="value_delta", scale=1
    )
    return _exp_hist_rows(eh)


def q_pipeline_metrics_exp_hist_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downscale-and-merge across heterogeneous scales (OTLP exp-histogram
    merge semantics over the reference's per-point int32 scale field):
    even turns roll up at scale 1 (36 buckets), odd turns at scale 0 (18),
    then merge_exp_histograms downscales the fine family onto the coarse
    one and sums element-wise. The oracle is the DIRECT scale-0 rollup over
    ALL points — equality holds iff downscaling is lossless (coarse
    boundaries are a subset of fine ones), so the whole merge path is
    value-checked, not just row-counted."""
    pts = _delta_points(spark, sf_dir)
    # one gated pass builds BOTH scale families (the two separate rollups
    # were two full scans of the fact); merge references its input 4x
    # (min-scale dim, scalars, both bucket families) so the tiny per-key
    # union comes back materialized — each reference reads a flat
    # 4-row RDD instead of re-planning the scan->parse->rollup lineage
    # (the round-start plan repeated the parquet scan 24x,
    # plans/r06/*_before.txt)
    with materialize_scope() as m:
        both = m.own(
            exp_histogram_rollup_pair(
                pts, F.col("turn_idx") % 2 == 0, (36, 1), (18, 0), value_col="value_delta"
            )
        )
        return owned_result(_exp_hist_rows(merge_exp_histograms(both)))


def q_pipeline_metrics_temporality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporality conversion (cumulative -> delta, the collector's
    cumulativetodelta semantics incl. counter-reset restart): per-series
    lag window — parallel across (metric, unit, conversation) series,
    never global."""
    return cumulative_to_delta(_metric_points(spark, sf_dir)).select(
        "conv_id", "turn_idx", "metric_name", "metric_unit", "delta"
    )


def q_pipeline_metrics_summary_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SummaryDP rollup: count/sum + exact quantile values
    (summary_dp.go:36 shape; percentile_approx is the 10^12-row path)."""
    return summary_rollup(_metric_points(spark, sf_dir), quantiles=[0.5, 0.9, 0.99])


def q_pipeline_metrics_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exemplar selection: top-2 max-value points per metric with source
    linkage (exemplar.go:36-44 carries span/trace ids; transcripts link
    back to conv_id/turn_idx). Window partitioned by metric keys."""
    return top_exemplars(_metric_points(spark, sf_dir), k=2).select(
        "metric_name", "metric_unit", "exemplar_value", "conv_id", "turn_idx", "rank"
    )


def q_pipeline_metrics_multivariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate metrics rollup: the wide layout (K values per
    (resource, ts) sharing one attrs row — the reference's x7.97 flagship,
    docs/benchmarks.md:73) must reproduce univariate semantics exactly:
    per-variable count/sum/min/max + resource reach through the exploded
    view. The measured wide-vs-long compression factor is recorded by
    bench.py in BENCH/BASELINE.md."""
    wide = synthesize_metrics_multivariate(spark, n_resources=20, n_ts=50)
    uni = explode_univariate(wide)
    return uni.groupBy("metric_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.countDistinct("res_id").alias("n_res"),
    )


def q_pipeline_metrics_dp_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full star-schema encode over the nested generator: per-record row
    counts (A4 analog). The generator is md5-seeded (datagen/seeds.py), so
    the DuckDB oracle replays it and recomputes every count; encode∘decode
    == id is pytest-gated (test_metrics_dp.py::test_metrics_roundtrip)."""
    return _record_counts(encode_metrics, synthesize_metrics_nested(spark, n_metrics=300))
