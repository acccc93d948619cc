"""Metrics data-point star schema: encode / decode / rollups (O5, J3, A2).

The reference splits each metrics batch into a main METRICS record plus a
family of related records keyed by surrogate ids — NumberDP, HistogramDP,
ExpHistogramDP, SummaryDP, per-DP exemplars and attrs (schemas: the
reference's pkg/otel/metrics/arrow/metrics.go:33-47,
number_data_point.go:36-47, histogram_dp.go:50-66, summary_dp.go:36,
exemplar.go:36-44). This module re-expresses that split as pure DataFrame
transforms over the shared star-schema core (``operators/star.py``: child
explode, attrs melt, typed nest, surrogate ids):

- ``encode_metrics``: nested metrics -> {record_name: flat DataFrame}.
  Each dp record's fields are read from its nested struct type; only the
  exemplar's hex ids become binary on the way.
- ``decode_metrics``: the inverse — nest exemplars and attrs onto their
  dp rows, then the dp families onto their metric, reproducing the input
  (round-trip contract, validation_process.md:23-32).
- ``histogram_rollup`` / ``summary_rollup`` / ``top_exemplars``: the
  HistogramDP / SummaryDP / Exemplar *computations* over raw number points
  (bucket counts with explicit bounds as array columns, exact quantile
  summaries, max-value exemplar with trace linkage) — what a metrics
  pipeline computes at 100 TB; all map-side-combinable single-shuffle aggs.

Sorts (O5): DP_SORT_KEYS per record, applied by ``write_metrics_records``
within partitions before the parquet write (the reference's
sort-for-compression, number_data_point.go:93-113 strategies; default =
by (parent_id, ts) — the ByTimestampParentID family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .star import assign_row_ids, explode_children, melt_attrs, nest, nest_attrs

# O5 default sort-for-compression keys per related record.
DP_SORT_KEYS = {
    "metrics": ["res_id", "scope_id", "metric_type", "name"],
    "number_dp": ["parent_id", "ts_us"],
    "hist_dp": ["parent_id", "ts_us"],
    "exp_hist_dp": ["parent_id", "ts_us"],
    "summary_dp": ["parent_id", "ts_us"],
    "number_dp_exemplar": ["parent_id", "ts_us"],
    "hist_dp_exemplar": ["parent_id", "ts_us"],
    "exp_hist_dp_exemplar": ["parent_id", "ts_us"],
    "number_dp_attrs": ["key", "str", "parent_id"],
    "hist_dp_attrs": ["key", "str", "parent_id"],
    "exp_hist_dp_attrs": ["key", "str", "parent_id"],
    "summary_dp_attrs": ["key", "str", "parent_id"],
}

# nested dp-family array -> its record; a dp's own children are its
# ``exemplars`` (when the family has them) and ``attrs``
DP_RECORDS = {
    "number_dps": "number_dp",
    "hist_dps": "hist_dp",
    "exp_hist_dps": "exp_hist_dp",
    "summary_dps": "summary_dp",
}

# the group key of every rollup over raw number points
METRIC_KEYS = ("metric_name", "metric_unit")
# exemplar trace linkage: hex string nested, binary in the record
_EXEMPLAR_IDS = {"span_hex": "span_id", "trace_hex": "trace_id"}


def _grandchild_id(parent: Column, pos: Column) -> Column:
    """Grandchild (exemplar) ids: the dp parent id already uses ~54 bits, so
    a second 16-bit shift would overflow the signed long and drop the bucket
    bits — exemplars of metrics in different buckets with equal in-bucket
    rank/positions would collide. Derive from a 64-bit hash of (parent_id,
    pos) instead; uniqueness is asserted by test_exemplar_ids_unique."""
    return F.xxhash64(parent, pos)


def encode_metrics(nested: DataFrame) -> dict[str, DataFrame]:
    """Nested metrics -> star schema of flat related records; row ids come
    from the row-unique ``gen_id``."""
    binary = {h: F.unhex(h).alias(b) for h, b in _EXEMPLAR_IDS.items()}
    m = assign_row_ids(nested, ("gen_id",))
    main = [c for c in nested.columns if c not in (*DP_RECORDS, "gen_id")]
    records = {"metrics": m.select("id", *main, "gen_id")}
    for family, name in DP_RECORDS.items():
        dps = explode_children(m, family)
        records[name] = dps.drop("exemplars", "attrs")
        if "exemplars" in dps.columns:
            ex = explode_children(dps, "exemplars", _grandchild_id)
            records[f"{name}_exemplar"] = ex.select(*[binary.get(c, c) for c in ex.columns])
        records[f"{name}_attrs"] = melt_attrs(dps)
    return records


def decode_metrics(records: dict[str, DataFrame]) -> DataFrame:
    """Star schema -> nested metrics (inverse of encode_metrics)."""
    hex_of = {b: F.lower(F.hex(b)).alias(h) for h, b in _EXEMPLAR_IDS.items()}
    out = records["metrics"]
    for family, name in DP_RECORDS.items():
        dps = records[name]
        if f"{name}_exemplar" in records:
            ex = records[f"{name}_exemplar"]
            dps = nest(dps, ex.select(*[hex_of.get(c, c) for c in ex.columns]), "exemplars")
        out = nest(out, nest_attrs(dps, records[f"{name}_attrs"]), family)
    return out


def write_metrics_records(records: dict[str, DataFrame], out_dir: str, mode: str = "overwrite") -> None:
    """One sorted zstd parquet table per related record (S3 analog); each
    record sorted by its O5 keys before the write."""
    for name, df in records.items():
        keys = [k for k in DP_SORT_KEYS.get(name, []) if k in df.columns]
        (
            df.sortWithinPartitions(*keys)
            .write.mode(mode)
            .option("compression", "zstd")
            .parquet(f"{out_dir}/metrics_records/{name}")
        )


# ---------------------------------------------------------------------------
# Rollups over raw number points (the DP computations at pipeline scale)
# ---------------------------------------------------------------------------

def histogram_rollup(points: DataFrame, bounds: list[float]) -> DataFrame:
    """Aggregate ``metric_value`` per ``METRIC_KEYS`` into HistogramDP
    rows: count, sum, min, max,
    bucket_counts (array<long>, len(bounds)+1) with OTLP bucket semantics
    (bucket i counts bounds[i-1] < v <= bounds[i]; last = overflow).
    Shape: one map-side-combined groupBy — no window, no second shuffle."""
    v = F.col("metric_value")
    in_bucket = []
    for i, b in enumerate(bounds):
        lo = F.lit(bounds[i - 1]) if i > 0 else None
        cond = (v <= F.lit(b)) if lo is None else ((v > lo) & (v <= F.lit(b)))
        in_bucket.append(F.sum(F.when(cond, 1).otherwise(0)).cast("long"))
    in_bucket.append(F.sum(F.when(v > F.lit(bounds[-1]), 1).otherwise(0)).cast("long"))
    return points.groupBy(*METRIC_KEYS).agg(
        F.count(v).cast("long").alias("count"),
        F.sum(v).cast("double").alias("sum"),
        F.min(v).cast("double").alias("min"),
        F.max(v).cast("double").alias("max"),
        F.array(*in_bucket).alias("bucket_counts"),
        F.array(*[F.lit(float(b)) for b in bounds]).alias("explicit_bounds"),
    )


def exp2_lower_bound(i: int, scale: int) -> int:
    """Smallest integer >= 2^(i / 2^scale), computed EXACTLY.

    Positive scales: nested integer square roots —
    floor(sqrt(floor(sqrt(x)))) == floor(x^(1/4)) (and so on), so ``scale``
    isqrt passes over 2^i give floor(2^(i/2^scale)) with no floating point
    anywhere; the boundary is an integer iff 2^scale divides i
    (2^fraction is irrational). Negative scales (OTLP allows down to -10:
    each bucket spans 2^|scale| octaves) are plain integer powers,
    2^(i * 2^|scale|). Shared by the Spark rollup AND the generated DuckDB
    oracle SQL — both engines only ever compare integers, so nonzero
    scales stay engine-portable (libm log2 would disagree in the last ulp
    at exact powers)."""
    import math

    if scale < 0:
        return 1 << (i * (1 << -scale))
    r = 1 << i
    for _ in range(scale):
        r = math.isqrt(r)
    return r if i % (1 << scale) == 0 else r + 1


def exp_histogram_rollup(
    points: DataFrame,
    max_buckets: int = 18,
    value_col: str = "metric_value",
    keys: tuple[str, ...] = METRIC_KEYS,
    scale: int = 0,
    trim: bool = True,
) -> DataFrame:
    """ExpHistogramDP rollup (ehistogram_dp.go:47-64 shape; int32 ``scale``
    field at ehistogram_dp.go:57,81) with the reference's NEGATIVE bucket
    family (``ExpHistogramNegative``, ehistogram_dp.go:60,84,254): base-2
    exponential buckets at any integer scale (base = 2^(2^-scale); scale 0
    = power-of-two buckets, scale 1 = sqrt(2)-steps, scale -1 = 4x steps —
    negative scales down to OTLP's -10 are plain integer powers).

    Bucket index i counts |v| in [2^(i/2^scale), 2^((i+1)/2^scale)) —
    lower-inclusive, mirrored for negatives. NOTE this is a deliberate,
    documented divergence from OTLP/the reference, which use the
    UPPER-inclusive convention (base^i, base^(i+1)]: lower-inclusive keeps
    exact power-of-two values in the intuitively-named bucket in the
    integer domain this operator contracts to (a value of 8 lands in
    [8,16) here vs (4,8] there); offsets, trimming, downscaling and
    merging are convention-independent. Boundaries are computed with EXPLICIT
    integer boundary comparisons (``exp2_lower_bound``): engine-portable
    (no libm log2, no string/base conversion — F.conv stringifies doubles
    with fractions or scientific notation and silently mis-buckets them,
    and to_base rendering varies across DuckDB versions). The value is
    floored to a long first, making the integral-domain contract explicit
    for non-integer inputs. zero_count counts v == 0 ONLY (OTLP semantics;
    negatives go to the mirrored buckets, never "zero"). sum/min/max are
    BIGINT end-to-end so the oracle hashes identically on any engine
    version. One map-side-combined groupBy, no window.

    To cover the same value range as (max_buckets=B, scale=0), pass
    max_buckets=B*2^scale at the finer scale — then ``merge_exp_histograms``
    can downscale it losslessly onto the coarser family.

    ``trim=True`` (default) emits the OTLP sparse-bucket transport shape
    the reference carries on every ExpHistogramDP
    (ehistogram_dp.go:58-62 — positive/negative DataPointBuckets with
    ``offset``): positive_offset/negative_offset = first non-empty bucket
    index, bucket arrays trimmed of leading AND trailing zeros. Real
    producers emit sparse arrays at large offsets (ns latencies start
    around index ~30 at scale 0), so without trimming the transport wastes
    a count slot per empty leading bucket. ``trim=False`` keeps the dense
    offset-0 arrays (index i = bucket [2^(i/2^s), ...))."""
    v = F.floor(F.col(value_col)).cast("long")
    pos, neg = [], []
    for i in range(max_buckets - 1):
        lo, hi = exp2_lower_bound(i, scale), exp2_lower_bound(i + 1, scale)
        pos.append(F.sum(F.when((v >= lo) & (v < hi), 1).otherwise(0)).cast("long"))
        neg.append(F.sum(F.when((v <= -lo) & (v > -hi), 1).otherwise(0)).cast("long"))
    top = exp2_lower_bound(max_buckets - 1, scale)
    pos.append(F.sum(F.when(v >= top, 1).otherwise(0)).cast("long"))
    neg.append(F.sum(F.when(v <= -top, 1).otherwise(0)).cast("long"))
    dense = points.groupBy(*keys).agg(
        F.count(v).cast("long").alias("count"),
        F.sum(v).cast("long").alias("sum"),
        F.lit(scale).cast("int").alias("scale"),
        F.sum(F.when(v == 0, 1).otherwise(0)).cast("long").alias("zero_count"),
        F.array(*pos).alias("_pos_dense"),
        F.array(*neg).alias("_neg_dense"),
        F.min(v).cast("long").alias("min"),
        F.max(v).cast("long").alias("max"),
    )
    if trim:
        pos_off, pos_arr = trim_exp_buckets(F.col("_pos_dense"))
        neg_off, neg_arr = trim_exp_buckets(F.col("_neg_dense"))
    else:
        pos_off, pos_arr = F.lit(0).cast("int"), F.col("_pos_dense")
        neg_off, neg_arr = F.lit(0).cast("int"), F.col("_neg_dense")
    return dense.select(
        *keys,
        "count",
        "sum",
        "scale",
        "zero_count",
        pos_off.alias("positive_offset"),
        pos_arr.alias("positive_bucket_counts"),
        neg_off.alias("negative_offset"),
        neg_arr.alias("negative_bucket_counts"),
        "min",
        "max",
    )


def exp_histogram_rollup_pair(
    points: DataFrame,
    gate: Column,
    true_spec: tuple[int, int],
    false_spec: tuple[int, int],
    value_col: str = "metric_value",
) -> DataFrame:
    """One-pass fusion of two ``exp_histogram_rollup`` calls over a boolean
    partition of ``points``: rows where ``gate`` holds roll up with
    ``true_spec = (max_buckets, scale)``, the rest with ``false_spec`` —
    exactly ``rollup(points.where(gate), *true_spec).unionByName(
    rollup(points.where(~gate), *false_spec))`` but with ONE scan of the
    fact instead of two. The collector fan-in shape
    ``merge_exp_histograms`` consumes: at real scale the input is a
    corpus-sized fact table and the second scan this removes is a second
    pass over the corpus.

    Mechanism: the gate joins the grouping key (so the aggregate stays
    exactly as wide as one fine-scale rollup — a single gated pass with
    both families' conditional aggregates was MEASURED SLOWER than two
    scans: ~116 agg columns of WHEN chains lose whole-stage-codegen
    economics), every group aggregates at the FINE spec, and the coarse
    family is derived from the fine dense arrays by the same lossless
    ``downscale_exp_buckets`` fold ``merge_exp_histograms`` uses — exact
    because the coarse boundaries are a subset of the fine ones, which is
    what ``false_spec`` must satisfy (same covered value range:
    ``max_buckets_t = max_buckets_f * 2^(scale_t - scale_f)``).

    Returns the union as an owned result (the caller ``unpersist()``-s
    it); the intermediate per-(key, gate) fine aggregate is freed here.
    Row-presence semantics match the two-call form: a family row exists
    iff its subset contains at least one input row."""
    from otel_arrow_adapter_spark.caching import materialize_scope, owned_result

    (mb_t, sc_t), (mb_f, sc_f) = true_spec, false_spec
    # scale order first: a negative shift count would raise a cryptic error
    if sc_t < sc_f or mb_t != mb_f << (sc_t - sc_f):
        raise ValueError(
            f"false_spec {false_spec} is not a lossless downscale of "
            f"true_spec {true_spec}: need max_buckets_t = max_buckets_f * "
            f"2^(scale_t - scale_f)"
        )
    factor = 1 << (sc_t - sc_f)
    with materialize_scope() as m:
        dense = m.keep(exp_histogram_rollup(
            points.withColumn("_gate", gate),
            max_buckets=mb_t,
            value_col=value_col,
            keys=(*METRIC_KEYS, "_gate"),
            scale=sc_t,
            trim=False,
        ))

        def family(is_true: bool) -> DataFrame:
            pos, neg = F.col("positive_bucket_counts"), F.col("negative_bucket_counts")
            if not is_true:
                pos = downscale_exp_buckets(pos, F.lit(factor))
                neg = downscale_exp_buckets(neg, F.lit(factor))
            pos_off, pos_arr = trim_exp_buckets(pos)
            neg_off, neg_arr = trim_exp_buckets(neg)
            return dense.where(F.col("_gate") == is_true).select(
                *METRIC_KEYS,
                "count",
                "sum",
                F.lit(sc_t if is_true else sc_f).cast("int").alias("scale"),
                "zero_count",
                pos_off.alias("positive_offset"),
                pos_arr.alias("positive_bucket_counts"),
                neg_off.alias("negative_offset"),
                neg_arr.alias("negative_bucket_counts"),
                "min",
                "max",
            )

        return owned_result(family(True).unionByName(family(False)))


def trim_exp_buckets(counts: Column) -> tuple[Column, Column]:
    """Dense offset-0 bucket array -> (offset, sparse array): offset =
    0-based index of the first non-zero count, array trimmed of leading
    and trailing zeros (all-zero -> offset 0 + empty array). Pure column
    expressions; array_position returns 0 when nothing matches — the same
    convention DuckDB's list_position uses, so the generated oracle SQL
    mirrors this exactly."""
    nz = F.transform(counts, lambda c: c != 0)
    first = F.array_position(nz, F.lit(True))  # 1-based, 0 if all zero
    last = F.size(nz) - F.array_position(F.reverse(nz), F.lit(True)) + 1
    offset = F.when(first == 0, F.lit(0)).otherwise(first - 1).cast("int")
    trimmed = F.when(
        first == 0, F.array().cast("array<long>")
    ).otherwise(F.slice(counts, first, last - first + 1))
    return offset, trimmed


def downscale_exp_buckets(counts: Column, factor: Column) -> Column:
    """Collapse an offset-0 exponential bucket array from scale s to scale
    s' = s - log2(factor): each run of ``factor`` adjacent fine buckets
    sums into one coarse bucket (exact — the coarse boundaries are a
    subset of the fine ones). Pure column expressions; a ragged tail
    (including the fine overflow bucket) folds into the last coarse bucket,
    preserving its ">= top boundary" overflow meaning."""
    n_out = F.ceil(F.size(counts) / factor).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_out - 1),
        lambda j: F.aggregate(
            F.slice(counts, j * factor + 1, factor),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def merge_exp_histograms(rollups: DataFrame) -> DataFrame:
    """Merge ExpHistogramDP rows with HETEROGENEOUS scales — the aggregate
    a collector fan-in needs when sources report at different resolutions
    (the reference transports per-point int32 scale, ehistogram_dp.go:57;
    OTLP merge semantics: downscale the finer histogram until bases match,
    then add buckets).

    Per group: target scale = min(scale). Every bucket is addressed by its
    ABSOLUTE index (row offset + array position), downscaled to the target
    scale with an arithmetic right shift — floor((off+i)/2^(s-target)),
    correct for NEGATIVE offsets too (values in (0,1) at positive scales,
    or .pb captures whose producers emit them) — then summed at (key, idx)
    grain via one map-side-combined groupBy; never a whole-array reduce on
    the driver. The merged arrays are rebuilt sparse: group offset = first
    non-empty coarse index, interior gaps zero-filled through a
    map_from_entries lookup over sequence(min_idx, max_idx) — all JVM-side
    column expressions. Offset alignment means rows need NOT cover the
    same value range. Scalar fields merge as sum/min/max; the min-scale
    dimension join is broadcast (one row per key group)."""
    gmin = rollups.groupBy(*METRIC_KEYS).agg(F.min("scale").alias("_target_scale"))
    j = rollups.join(F.broadcast(gmin), list(METRIC_KEYS)).withColumn(
        "_shift", F.col("scale") - F.col("_target_scale")
    )
    scalars = j.groupBy(*METRIC_KEYS).agg(
        F.sum("count").cast("long").alias("count"),
        F.sum("sum").cast("long").alias("sum"),
        F.min("scale").cast("int").alias("scale"),
        F.sum("zero_count").cast("long").alias("zero_count"),
        F.min("min").cast("long").alias("min"),
        F.max("max").cast("long").alias("max"),
    )

    def _ewise(side: str) -> DataFrame:
        # absolute fine index = offset + position; arithmetic shiftright =
        # floor division by 2^shift (exact for negative indices, unlike
        # integer '/' which truncates toward zero)
        per_idx = (
            j.select(
                *METRIC_KEYS,
                "_shift",
                F.coalesce(F.col(f"{side}_offset"), F.lit(0)).alias("_off"),
                F.posexplode_outer(f"{side}_bucket_counts").alias("_i", "_c"),
            )
            .where(F.col("_c").isNotNull() & (F.col("_c") != 0))
            .select(
                *METRIC_KEYS,
                F.expr("shiftright(_off + _i, _shift)").alias("_idx"),
                F.col("_c"),
            )
            .groupBy(*METRIC_KEYS, "_idx")
            .agg(F.sum("_c").alias("_c"))
        )
        g = per_idx.groupBy(*METRIC_KEYS).agg(
            F.min("_idx").alias("_lo"),
            F.max("_idx").alias("_hi"),
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("_idx", "_c")))
            ).alias("_m"),
        )
        # zero-fill interior gaps: look up each absolute index in the
        # (idx -> count) map, 0 where absent
        return g.select(
            *METRIC_KEYS,
            F.col("_lo").cast("int").alias(f"{side}_offset"),
            F.expr(
                "transform(sequence(_lo, _hi), "
                "i -> coalesce(try_element_at(_m, i), 0L))"
            ).alias(f"{side}_bucket_counts"),
        )

    out = (
        scalars.join(_ewise("positive"), list(METRIC_KEYS), "left")
        .join(_ewise("negative"), list(METRIC_KEYS), "left")
    )
    empty = F.array().cast("array<long>")
    return out.select(
        *METRIC_KEYS,
        "count",
        "sum",
        "scale",
        "zero_count",
        F.coalesce("positive_offset", F.lit(0)).alias("positive_offset"),
        F.coalesce("positive_bucket_counts", empty).alias("positive_bucket_counts"),
        F.coalesce("negative_offset", F.lit(0)).alias("negative_offset"),
        F.coalesce("negative_bucket_counts", empty).alias("negative_bucket_counts"),
        "min",
        "max",
    )


def exp_hist_quantiles(
    eh: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    keys: tuple[str, ...] = METRIC_KEYS,
    scale: int = 0,
    max_buckets: int = 18,
) -> DataFrame:
    """Mergeable quantile estimation from exponential-histogram rollups —
    the DDSketch-style scale path for percentiles. Exact percentile needs a
    full per-group sort of raw values; here each group is already reduced
    to O(max_buckets) counts (``exp_histogram_rollup`` and
    ``merge_exp_histograms`` are each one map-side-combined shuffle), so
    quantiles over 10^12 rows cost a window over O(groups x buckets) slot
    rows. The [est_lo, est_hi] bracket is exact — the rank-q value provably
    lies in it — with relative width 2^(2^-scale) (scale 0 = a 2x bracket);
    the overflow bucket reports its lower edge with the next power as the
    nominal hi, so size max_buckets to the data domain.

    Consumes the rollup's sparse transport shape (offset + trimmed arrays,
    negative family mirrored). Slot order is true value order: negative
    buckets by descending absolute index, then zero_count, then positives
    ascending. rank = max(ceil(q*count), 1); the answer is the first slot
    whose running count reaches it (min_by over a per-group cumulative
    window — partitioned, never global). Bucket edges are the same
    exact-integer ``exp2_lower_bound`` literals the rollup compared
    against, so a DuckDB oracle replays the estimates bit-for-bit."""
    bounds = [exp2_lower_bound(i, scale) for i in range(max_buckets + 1)]
    barr = F.array(*[F.lit(b).cast("long") for b in bounds])
    ks = list(keys)

    # ONE slot array per group row (negatives + zero + positives), so the
    # rollup lineage is scanned once — a 3-way union of per-side explodes
    # would re-evaluate it three times. HOF lambdas are interpreted, but
    # they run over O(max_buckets) elements per GROUP, not per input row.
    def side(name: str, sign: int):
        off = F.col(f"{name}_offset")

        def slot(c, i):
            j = off + i  # absolute bucket index
            lo = F.try_element_at(barr, (j + 1).cast("int"))
            hi = F.try_element_at(barr, (j + 2).cast("int"))
            if sign > 0:
                ordc, est_lo, est_hi = (j + 1).cast("long"), lo, hi
            else:  # bucket j holds v in [-hi, -lo] (integer domain)
                ordc, est_lo, est_hi = (-j - 1).cast("long"), -hi, -lo
            return F.struct(
                ordc.alias("ord"),
                c.alias("cnt"),
                est_lo.alias("est_lo"),
                est_hi.alias("est_hi"),
            )

        return F.transform(F.col(f"{name}_bucket_counts"), slot)

    zero_slot = F.array(
        F.struct(
            F.lit(0).cast("long").alias("ord"),
            F.col("zero_count").alias("cnt"),
            F.lit(0).cast("long").alias("est_lo"),
            F.lit(0).cast("long").alias("est_hi"),
        )
    )
    slots = (
        eh.select(
            *ks,
            "count",
            F.explode(
                F.concat(side("negative", -1), zero_slot, side("positive", 1))
            ).alias("_s"),
        )
        .select(*ks, "count", "_s.*")
        .where(F.col("cnt") > 0)
    )
    w = Window.partitionBy(*ks).orderBy("ord")
    slots = slots.withColumn("cum", F.sum("cnt").over(w))
    expanded = slots.withColumn(
        "q", F.explode(F.array(*[F.lit(float(x)) for x in qs]))
    )
    rank = F.greatest(F.ceil(F.col("q") * F.col("count")), F.lit(1))
    return (
        expanded.where(F.col("cum") >= rank)
        .groupBy(*ks, "q")
        .agg(
            F.min_by("est_lo", "ord").alias("est_lo"),
            F.min_by("est_hi", "ord").alias("est_hi"),
        )
    )


def summary_rollup(points: DataFrame, quantiles: list[float] = (0.5, 0.9, 0.99)) -> DataFrame:
    """SummaryDP rows of ``metric_value`` per ``METRIC_KEYS``: count, sum +
    exact quantile values (summary_dp.go:36 shape). Exact percentile so
    the DuckDB oracle matches bit-for-bit; percentile_approx is the
    drop-in at 10^12 rows."""
    v = F.col("metric_value")
    pct = F.percentile(v, F.array(*[F.lit(q) for q in quantiles]))
    return points.groupBy(*METRIC_KEYS).agg(
        F.count(v).cast("long").alias("count"),
        F.sum(v).cast("double").alias("sum"),
        *[
            F.round(pct.getItem(i), 6).alias(f"q{str(q).replace('.', '_')}")
            for i, q in enumerate(quantiles)
        ],
    )


def top_exemplars(points: DataFrame, k: int = 1) -> DataFrame:
    """Exemplar selection: the k max-``metric_value`` points per metric
    with their source linkage (exemplar.go:36-44 carries span/trace ids;
    the transcript analog links back to (conv_id, turn_idx)). Window
    partitioned by ``METRIC_KEYS`` — parallel across metrics, never a
    global sort."""
    link_cols = ("conv_id", "turn_idx")
    w = Window.partitionBy(*METRIC_KEYS).orderBy(
        F.desc("metric_value"), *[F.asc(c) for c in link_cols]
    )
    return (
        points.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            *METRIC_KEYS,
            F.col("metric_value").alias("exemplar_value"),
            *link_cols,
            F.col("_rn").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Multivariate metrics (the reference's flagship compression case:
# docs/benchmarks.md:73 — x7.97 vs OTLP because K values per (resource,
# timestamp) share ONE attrs/timestamp row instead of repeating them)
# ---------------------------------------------------------------------------

def _value_cols(wide: DataFrame) -> list[str]:
    """The K metric-value columns (``v_*``) of a wide multivariate frame."""
    return [c for c in wide.columns if c.startswith("v_")]


def encode_multivariate(wide: DataFrame) -> dict[str, DataFrame]:
    """Multivariate star schema: ONE main row per (resource, ts) carrying
    all K metric values as columns, plus ONE attrs row per resource —
    nothing repeated per value. The write path sorts by (res_id, ts_us)
    (delta-friendly timestamps, dictionary-friendly ids)."""
    main = wide.select("res_id", "ts_us", *_value_cols(wide))
    attrs = wide.select("res_id", "host", "dc").distinct()
    return {"metrics_mv": main, "mv_resource_attrs": attrs}


def explode_univariate(wide: DataFrame) -> DataFrame:
    """The univariate layout of the same data: one row per metric value
    with the attrs AND timestamp repeated — what the OTLP univariate model
    stores and exactly what the multivariate encode saves. Used as the
    measured baseline for the compression-factor row in BENCH/BASELINE.md."""
    ms = F.array(
        *[
            F.struct(F.lit(c).alias("name"), F.col(c).alias("value"))
            for c in _value_cols(wide)
        ]
    )
    return wide.select(
        "res_id", "host", "dc", "ts_us", F.explode(ms).alias("m")
    ).select(
        "res_id",
        "host",
        "dc",
        "ts_us",
        F.col("m.name").alias("metric_name"),
        F.col("m.value").alias("value"),
    )


def write_multivariate_layouts(wide: DataFrame, out_dir: str) -> None:
    """Write three encodings of the same stream so bench records measured
    compression factors:

    - ``mv/``   multivariate star, sorted zstd parquet (ours)
    - ``uni/``  univariate long layout, sorted zstd parquet (columnar
      baseline — parquet dictionaries already amortize the repeats)
    - ``uni_json/`` univariate zstd JSON lines — the row-oriented baseline
      (the reference's x7.97 is Arrow vs OTLP *protobuf*+zstd, a
      row-oriented wire format; OTLP-JSON is its file-exporter analog,
      collector fileexporter / S7)."""
    recs = encode_multivariate(wide)
    recs["metrics_mv"].sortWithinPartitions("res_id", "ts_us").write.mode(
        "overwrite"
    ).option("compression", "zstd").parquet(f"{out_dir}/mv/metrics_mv")
    recs["mv_resource_attrs"].sortWithinPartitions("res_id").write.mode(
        "overwrite"
    ).option("compression", "zstd").parquet(f"{out_dir}/mv/resource_attrs")
    uni = explode_univariate(wide).sortWithinPartitions("metric_name", "res_id", "ts_us")
    uni.write.mode("overwrite").option("compression", "zstd").parquet(
        f"{out_dir}/uni/number_dp"
    )
    # gzip: Spark's text writer has no zstd without native hadoop; gzip is
    # within ~10% of zstd on JSON text and keeps the baseline honest
    uni.write.mode("overwrite").option("compression", "gzip").json(
        f"{out_dir}/uni_json/number_dp"
    )


# ---------------------------------------------------------------------------
# Temporality conversion (the collector's cumulativetodelta processor
# family; aggregation_temporality is carried by the star schema above)
# ---------------------------------------------------------------------------

def _series():
    """A metric series: the metric keys of one conversation, ordered by turn."""
    return Window.partitionBy(*METRIC_KEYS, "conv_id").orderBy("turn_idx")


def cumulative_to_delta(points: DataFrame) -> DataFrame:
    """OTLP cumulative -> delta temporality: per-series lag difference of
    ``metric_value`` as ``delta``. First point of a series keeps its value
    (delta from the implicit 0); a counter RESET (value < previous)
    restarts the series (delta = value) — the standard collector
    semantics. Window partitions by the series key, so state is
    per-series and the transform parallelizes across series (never a
    global window)."""
    v = F.col("metric_value")
    prev = F.lag(v).over(_series())
    delta = F.when(prev.isNull(), v).when(v < prev, v).otherwise(v - prev)
    return points.withColumn("delta", delta)


def delta_to_cumulative(points: DataFrame) -> DataFrame:
    """Inverse for reset-free series: running sum of ``delta`` per series
    as ``value`` (W2's running-reconstruction idiom). cumulative_to_delta
    ∘ this == id on nondecreasing inputs (pytest-gated); resets are
    inherently lossy."""
    running = _series().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return points.withColumn("value", F.sum("delta").over(running))
