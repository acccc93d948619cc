"""A1-A5: statistics aggregations.

- ``schema_analyzer``: per-column distinct counts / min / max / null rate —
  the reference's schema analyzer (/root/reference/pkg/otel/common/arrow/analyzer.go:41-237)
  as one pass of distributed aggregates.
- ``field_frequencies``: per-column top-k value distributions — the
  analyzer's per-field frequency view, each column's top-k computed as a
  map-side-combined groupBy + orderBy+limit (TakeOrderedAndProject: a
  distributed partial top-k, never a one-task global window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def schema_analyzer(df: DataFrame, approx: bool = True) -> DataFrame:
    """One row per column: distinct count, null fraction, min/max (as strings).

    ``approx`` uses HyperLogLog (approx_count_distinct) — the only sane
    choice at 10^12 rows; exact mode exists for oracle comparison at test SF.
    """
    n = F.count(F.lit(1))
    aggs = [n.alias("__n")]
    for c in df.columns:
        col = F.col(c)
        distinct = (
            F.approx_count_distinct(c) if approx else F.countDistinct(c)
        )
        aggs += [
            distinct.alias(f"{c}__distinct"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(col).cast("string").alias(f"{c}__min"),
            F.max(col).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    # unpivot to (column, n_distinct, null_frac, min, max)
    stacked = wide.select(
        F.expr(
            "stack({}, {}) as (column, n_distinct, n_nulls, min_value, max_value)".format(
                len(df.columns),
                ", ".join(
                    f"'{c}', `{c}__distinct`, `{c}__nulls`, `{c}__min`, `{c}__max`"
                    for c in df.columns
                ),
            )
        ),
        F.col("__n").alias("n_rows"),
    )
    return stacked.select(
        "column",
        "n_distinct",
        (F.col("n_nulls") / F.col("n_rows")).alias("null_frac"),
        "min_value",
        "max_value",
        "n_rows",
    )


def field_frequencies(df: DataFrame, columns: list[str], k: int = 5) -> DataFrame:
    """Top-k most frequent values per column: (column, value, n).

    The reference's analyzers report per-field value distributions
    (/root/reference/pkg/otel/common/arrow/analyzer.go:156-237); this is
    that view as k-bounded exact counts. Per column: one map-side-combined
    groupBy then orderBy+limit — compiles to TakeOrderedAndProject, so the
    top-k is partial-aggregated per partition and only k rows reach the
    driver side of each union leg. Ties break on value ascending
    (deterministic, oracle-portable)."""
    parts = []
    for c in columns:
        parts.append(
            df.where(F.col(c).isNotNull())
            .groupBy(F.col(c).cast("string").alias("value"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("value"))
            .limit(k)
            .select(F.lit(c).alias("column"), "value", "n")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def distinct_sketch_counts(
    df: DataFrame, group_col: str, target_col: str
) -> tuple[DataFrame, DataFrame]:
    """Sketch-based distinct counting (the A2 analyzer at 100 TB): per-group
    HLL sketches are built map-side (datasketches HllSketch — mergeable,
    unlike approx_count_distinct's opaque partial) and the GLOBAL estimate
    comes from hll_union_agg over the per-group sketches — merging O(groups)
    kilobyte sketches instead of re-scanning the data or shuffling every
    distinct value. Sketches use lg_k = 12 (4096 buckets, ~1.6% relative
    error). Returns (per-group estimates, global estimate)."""
    per = df.groupBy(group_col).agg(
        F.hll_sketch_agg(target_col, F.lit(12)).alias("_sk")
    )
    per_counts = per.select(
        group_col, F.hll_sketch_estimate("_sk").alias("n_distinct_est")
    )
    global_est = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk", F.lit(True))).alias("n_distinct_est")
    )
    return per_counts, global_est
