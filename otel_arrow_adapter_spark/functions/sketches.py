"""Mergeable frequency sketches.

Completes the repo's sketch family — approx_count_distinct (HLL) in the
schema analyzer covers DISTINCT counts, the exponential-histogram
quantile sketch (events_latency_quantiles_sketch) covers QUANTILES, and
the count-min sketch here covers point FREQUENCIES (Cormode/Muthukrishnan
2005): heavy-hitter tracking over token/URL/tool streams where the exact
(key -> count) table is too wide to keep.

Engine-portable hashing: bucket = md5-uint48("r:" || key) % width — the
library's one md5 draw (``datagen.seeds.md5_bucket``, as in shard_shuffle
/ stratified_sample), so the DuckDB oracle computes byte-identical cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..datagen.seeds import md5_bucket


def _cells(key_col: str, depth: int, width: int) -> Column:
    """The key's ``depth`` sketch cells: array<struct<row, col>>."""
    return F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("row"),
                md5_bucket(F.concat(F.lit(f"{r}:"), F.col(key_col)), width).cast("int").alias("col"),
            )
            for r in range(depth)
        ]
    )


def count_min_sketch(
    items: DataFrame,
    key_col: str = "key",
    depth: int = 4,
    width: int = 256,
    count_col: str | None = None,
) -> DataFrame:
    """Build a depth x width CMS over a key stream: (row, col, c).

    ``items`` holds one row per occurrence, or, with ``count_col``, one row
    per key with its occurrence count (a type-grain vocabulary): a cell's
    count is then the sum of its keys' counts, the same cells the
    occurrence stream gives.

    Scale shape: one narrow explode to ``depth`` cells per item, then ONE
    map-side-combined groupBy over at most depth*width cells — the reduce
    input is O(depth*width) per partition regardless of stream size, and
    sketches built over any partitioning of the data MERGE EXACTLY by
    (row, col) sum (how per-day sketches roll up to a month). Estimates
    are one-sided: est >= true, with err <= 2N/width at probability
    1 - (1/2)^depth."""
    # a sum over a cell's non-empty group is never null; the coalesce keeps
    # ``c`` non-nullable, as the occurrence count is
    c = F.count(F.lit(1)) if count_col is None else F.coalesce(F.sum(count_col), F.lit(0))
    counts = [] if count_col is None else [count_col]
    return (
        items.where(F.col(key_col).isNotNull())  # null keys are untracked
        .select(F.explode(_cells(key_col, depth, width)).alias("e"), *counts)
        .groupBy(F.col("e.row").alias("row"), F.col("e.col").alias("col"))
        .agg(c.alias("c"))
    )


def cms_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str = "key",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate each key from the sketch: min over its depth cells.

    The sketch is depth*width rows — BROADCAST; lookup is one broadcast
    join + a groupBy(key) min, never a rescan of the original stream."""
    probed = keys.where(F.col(key_col).isNotNull()).select(
        key_col, F.explode(_cells(key_col, depth, width)).alias("e")
    ).select(
        key_col, F.col("e.row").alias("row"), F.col("e.col").alias("col")
    )
    return (
        probed.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_n"))
    )
