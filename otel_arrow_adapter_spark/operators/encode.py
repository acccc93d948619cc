"""E1-E3: delta / delta-group / dictionary encoding with exact decode inverses.

These are the reference's compression-semantics operators, re-expressed as
window functions so they distribute:

- E1 delta encoding of sorted IDs with max-delta monotonicity assertion
  (/root/reference/pkg/otel/common/schema/builder/uint.go:221-291).
- E2 parent-ID delta-group encoding: within runs of equal (key, value) the
  parent_id is stored as a delta from the previous row; the first row of a
  new (key, value) group restarts with the raw value
  (encode: /root/reference/pkg/otel/common/arrow/attributes_16.go:348-366,
  3-mode enum attributes.go:37-48, decode: pkg/otel/common/otlp/attributes.go:385-443).
- E3 dictionary encoding with adaptive index width
  (/root/reference/pkg/otel/common/schema/transform/dictionary.go:41-216):
  the reference widens u8->u16->u32 on overflow at append time; we know the
  cardinality after one distributed agg, so the width is picked once —
  same semantics (smallest index type that fits, plain-value fallback past
  the limit) without the rebuild loop.

Scale notes: E2 windows are partitioned by (``key``, ``enc_bucket``) —
``n_buckets > 0`` hash-buckets parent ids so the window state never funnels
one attribute key's 10^12 rows into a single task; each (key, bucket) scope
is the analog of one reference batch (the reference resets its accumulator
state per batch too, attributes.go:266-269), and encode∘decode == id holds
per scope. ``n_buckets = 0`` is the single-batch semantics used by the
maxDelta-invariant tests. Within one scope the order is (value, parent_id),
matching the reference's default Attrs16 sort-by-(key,value,parentID)
(attributes_16.go:274-449). Dictionary build is distinct+broadcast — at
10^12 rows the distinct agg is map-side-combined and tiny on the wire for
dictionary-worthy (low-cardinality) columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Value columns that define a delta group, in the reference's default
# Attrs16 sort order (key, value, parent_id). Columns absent from the
# input are skipped (an attrs table may carry any subset of the union).
GROUP_COLS = ("key", "type", "str", "int", "double", "bool", "bytes", "ser")


def _present(df: DataFrame):
    """The ``GROUP_COLS`` that ``df`` has."""
    return tuple(c for c in GROUP_COLS if c in df.columns)


def _with_bucket(attrs: DataFrame, n_buckets: int) -> DataFrame:
    """Add the batch-analog scope column (idempotent)."""
    if "enc_bucket" in attrs.columns:
        return attrs
    b = (
        F.pmod(F.xxhash64("parent_id"), F.lit(n_buckets)).cast("int")
        if n_buckets > 0
        else F.lit(0).cast("int")
    )
    return attrs.withColumn("enc_bucket", b)


def _scope_window(group_cols, order_tail: str) -> Window:
    return Window.partitionBy("key", "enc_bucket").orderBy(
        *[F.col(c).asc_nulls_first() for c in group_cols if c != "key"], order_tail
    )


def delta_encode_parent_ids(attrs: DataFrame, n_buckets: int = 0) -> DataFrame:
    """attrs(parent_id, key, value cols) -> + parent_id_delta, group_start.

    Encoding contract (attributes_16.go:348-366): first row of a
    (key,value) group carries the raw parent_id; subsequent rows carry
    parent_id - lag(parent_id). After the canonical sort all deltas are
    >= 0; the reference's maxDelta<=1 invariant holds only for dense
    per-group parents, so we assert non-negativity (sort-bug detector)
    rather than <=1.
    """
    attrs = _with_bucket(attrs, n_buckets)
    group_cols = _present(attrs)
    w = _scope_window(group_cols, "parent_id")
    same = F.lit(True)
    for c in group_cols:
        if c == "key":
            continue
        same = same & F.col(c).eqNullSafe(F.lag(c).over(w))
    prev = F.lag("parent_id").over(w)
    out = attrs.withColumn("group_start", ~F.coalesce(same, F.lit(False))).withColumn(
        "parent_id_delta",
        F.when(F.col("group_start"), F.col("parent_id")).otherwise(F.col("parent_id") - prev),
    )
    return out


def delta_decode_parent_ids(encoded: DataFrame) -> DataFrame:
    """Inverse of delta_encode_parent_ids: running reconstruction.

    Decode mirror of pkg/otel/common/otlp/attributes.go:385-443
    (``lastID += delta`` within a group, reset on group start). As a
    windowed computation: within each (key, value-group) segment ordered as
    encoded, parent_id = raw start + cumulative sum of deltas — i.e. a
    running sum of parent_id_delta segmented by group_start markers.
    Requires the encode-time ``enc_bucket`` + ``enc_order`` columns (state
    is scoped exactly as it was at encode time).
    """
    w = _scope_window(_present(encoded), "enc_order")
    seg = F.sum(F.col("group_start").cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tmp = encoded.withColumn("_seg", seg)
    w2 = Window.partitionBy("key", "enc_bucket", "_seg").orderBy("enc_order")
    return tmp.withColumn(
        "parent_id",
        F.sum("parent_id_delta").over(w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).drop("_seg")


def with_encode_order(attrs: DataFrame, n_buckets: int = 0) -> DataFrame:
    """Materialize the encode-time row order (per scope) so decode is exact.

    The reference relies on physical record order inside one Arrow batch;
    a distributed table has no physical order, so the order becomes an
    explicit column — one row_number per (key, enc_bucket) scope.
    """
    attrs = _with_bucket(attrs, n_buckets)
    w = _scope_window(_present(attrs), "parent_id")
    return attrs.withColumn("enc_order", F.row_number().over(w))


# ---------------------------------------------------------------------------
# E3: dictionary encoding
# ---------------------------------------------------------------------------

def _index_type(cardinality: int, max_card: int) -> str | None:
    """Smallest index type that fits — the u8->u16->u32 widening ladder of
    transform/dictionary.go:154-176 decided once from the observed
    cardinality; None = overflow fallback to plain values
    (config bounds: pkg/config/config.go:31-35,50-58)."""
    if cardinality > max_card:
        return None
    if cardinality <= (1 << 8):
        return "smallint"  # u8 analog (Spark has no unsigned; next wider signed)
    if cardinality <= (1 << 16):
        return "int"
    return "bigint"


def dict_encode_column(
    df: DataFrame, col: str, max_card: int = 1 << 16, stats=None
) -> tuple[DataFrame, DataFrame | None, str | None]:
    """Dictionary-encode ``col``: returns (encoded_df, dict_df, index_type).

    dict_df: (code, value) ordered by value (deterministic codes — the
    reference's codes are insertion-ordered per batch, which has no stable
    meaning across a distributed shuffle; sorted codes give the same
    compression and reproducible tests). Overflow (cardinality > max_card)
    returns the input unchanged with dict_df=None — the plain-value
    fallback of dictionary.go:189-216.

    ``stats`` (plans.stats.ProducerStats) observes the encoder: overflow
    fallbacks count ``dictionary_overflow_detected`` and a column whose
    chosen index type widens across batches counts
    ``dictionary_index_type_changed`` (stats.go:40-42).
    """
    from .normalize import ranked_dim

    distinct = df.select(col).where(F.col(col).isNotNull()).distinct()
    card = distinct.count()
    itype = _index_type(card, max_card)
    if itype is None:
        if stats is not None:
            stats.inc("dictionary_overflow_detected")
        return df, None, None
    if stats is not None:
        stats.note_index_type(col, itype)
    # windowless rank (collect+sort_array+posexplode over the distinct set,
    # dictionary-small by definition) — no single-partition window
    dict_df = ranked_dim(distinct, (col,), f"{col}_code", id_type=itype, start=0)
    encoded = df.join(F.broadcast(dict_df), on=col, how="left").drop(col)
    return encoded, dict_df, itype


def dict_decode_column(encoded: DataFrame, dict_df: DataFrame, col: str) -> DataFrame:
    """Inverse: code -> value via broadcast join."""
    return encoded.join(F.broadcast(dict_df), on=f"{col}_code", how="left").drop(f"{col}_code")
