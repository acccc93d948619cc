"""Analytics queries over the driver's tables: TPC-H shapes, ``events``
sessionization and quantiles, and the multimodal ``media`` plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, Window as W

from ..functions.multimodal import extract_features, frame_sample, synthesize_media
from ..operators.metrics_dp import exp_hist_quantiles, exp_histogram_rollup


def q_q1_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (dim filter pushed to both scans) +
    aggregate + distributed top-k via orderBy+limit (TakeOrdered)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(F.col("o_orderdate") < "1995-03-15")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate") > "1995-03-15"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with small dims broadcast, revenue per
    nation (region filter pruned through two broadcast hops)."""
    r = spark.read.parquet(f"{sf_dir}/region.parquet").where(F.col("r_name") == "ASIA")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate driving the join back
    onto orders/customer, then top-k. No forced broadcasts: the heavy-
    hitter aggregate's size is data-dependent (selective HAVING, but
    millions of rows at SF-100k) and customer scales with SF — AQE
    converts to broadcast at runtime exactly when a side is actually
    small, which is the 100 TB-safe default."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("sum_qty").cast("long").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min) — classic lag+cumsum idiom (W3)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag(F.col("ts").cast("timestamp")).over(w)
    )
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    per_event = ev.select("user_id", "event_id", sess.alias("session_id"))
    return per_event.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_events_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: benchmark-style summary stats — exact percentiles per group
    (the reference's profiler reports mean/p50-p99,
    pkg/benchmark/profiler.go:254-269). percentile_approx is the 10^12-row
    path; exact percentile here so the DuckDB oracle matches bit-for-bit."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(pct.getItem(0), 6).alias("p50"),
        F.round(pct.getItem(1), 6).alias("p95"),
        F.round(pct.getItem(2), 6).alias("p99"),
    )


def q_events_latency_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 at the 10^12-row regime: quantiles FROM the mergeable
    exponential-histogram sketch (DDSketch-style) instead of an exact
    per-group sort — rollup is one map-side-combined shuffle to
    O(max_buckets) counts per group, the quantile walk is a window over
    O(groups x buckets) slot rows, and sketches from different partitions/
    days merge exactly (merge_exp_histograms). The [est_lo, est_hi] bracket
    provably contains the true quantile; the oracle maps the exact rank-q
    value to the same integer bucket edges, so the estimates match
    bit-for-bit. Value domain [0, ~600] -> max_buckets=12, no overflow."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(F.col("value").isNotNull())
    eh = exp_histogram_rollup(
        ev, max_buckets=12, value_col="value", keys=("event_type",), scale=0
    )
    return exp_hist_quantiles(
        eh, (0.5, 0.95, 0.99), keys=("event_type",), scale=0, max_buckets=12
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: video frame sampling (explode over n_frames) on
    the deterministic synthetic media table; decode itself is stubbed (the
    container has no codecs) but the schema/partitioning/explode are real."""
    media = synthesize_media(spark, n=200)
    return frame_sample(media, every_n=2).select("media_id", "frame_idx")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction via mapInPandas (decode STUBBED with a
    deterministic payload-hash fake — real PIL/ffmpeg swap-in point). The
    fake is exact integer/65535.0 double arithmetic, so even the stub is
    DuckDB-oracle-checked (sha256∘sha256 replayed in SQL); the Spark-side
    plumbing under test — schema, Arrow batches, mapInPandas — is real."""
    media = synthesize_media(spark, n=200)
    feats = extract_features(media)
    joined = feats.join(media.select("media_id", F.col("meta.mime").alias("mime")), "media_id")
    return joined.select(
        "media_id",
        "mime",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x * x), 6).alias("sq_norm"),
    )
