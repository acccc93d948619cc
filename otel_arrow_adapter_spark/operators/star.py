"""Star-schema split and re-nest: the one core behind every related-record
codec.

The reference splits each OTLP batch into a main record plus related
records linked by surrogate ids and joins them back on decode, driving
every family through one registry (the reference's
pkg/otel/common/arrow/related_data.go:108-211). The same moves are written
once here as DataFrame transforms; the metrics and traces codecs
(``metrics_dp.encode_metrics``/``decode_metrics``,
``span_records.encode_traces``/``decode_traces``) and the nested generators
they invert (``datagen/metrics.py``, ``datagen/traces.py``) all call them:

- ``explode_children``: posexplode a parent's array column into flat
  (id, parent_id, field...) rows — the child record;
- ``melt_attrs``: an attrs array into the long (parent_id, key, type, str)
  record (attributes_16.go:41-51 shape); ``nest_attrs`` folds it back;
- ``nest``: group children by their parent key into
  ``sort_array(collect_list(struct(fields)))``, left-join onto the parent,
  and give parents without children an empty array.

Children are built flat and nested back with sort_array, so every array is
canonical (leading sort field strictly increasing) and a decode that
re-nests the flat records reproduces its input bit-for-bit — the
vPath-equality analog of assert.Equiv (pkg/otel/assert/equiv.go:107-157).

IDs are NOT batch-order counters (meaningless under distributed execution):
a main record's id derives from a (hash-bucket, in-bucket rank) pair and a
child's from (parent_id << 16 | position) — unique, deterministic, and
assigned without any global window.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructField, StructType

from .melt import ATTR_STR

CHILD_POS_BITS = 16


def assign_row_ids(df: DataFrame, key_cols: tuple[str, ...]) -> DataFrame:
    """Deterministic unique row ids (column ``id``) WITHOUT a global window.

    The reference's ids are per-batch row counters (u16/u32 appended in
    walk order, metrics.go:42); a distributed table has no batch order, so
    id = (key-hash bucket << 32) | row_number-within-bucket, over 64
    buckets. key_cols must be row-unique for determinism across runs."""
    b = F.pmod(F.xxhash64(*key_cols), F.lit(64)).cast("long")
    w = Window.partitionBy("_idb").orderBy(*key_cols)
    return (
        df.withColumn("_idb", b)
        .withColumn("id", F.shiftleft(F.col("_idb"), 32) + F.row_number().over(w))
        .drop("_idb")
    )


def child_id(parent: Column, pos: Column) -> Column:
    """First-level child id: parent << 16 | pos. A parent id occupies <= 38
    bits (64 buckets << 32 + rank), so 16 bits of position below it keep
    the id unique in a long — as long as pos < 2^16. A longer child array
    would silently reuse the next parent's ids ((p << 16) + 2^16 ==
    (p + 1) << 16), so the row fails instead. Grandchildren (exemplars)
    cannot shift again without dropping the bucket bits past bit 63; they
    hash (parent_id, pos) instead (``metrics_dp._grandchild_id``)."""
    return F.when(
        pos >= F.lit(1 << CHILD_POS_BITS),
        F.raise_error(
            F.format_string(
                "child position %d of parent id %d overflows the %d-bit child-id field",
                pos,
                parent,
                F.lit(CHILD_POS_BITS),
            )
        ),
    ).otherwise(F.shiftleft(parent, CHILD_POS_BITS) + pos)


def explode_children(
    parent: DataFrame, array_col: str, id_of: Callable[[Column, Column], Column] = child_id
) -> DataFrame:
    """A parent's array-of-struct column -> one flat row per element:
    (id, parent_id, the element's fields in struct order)."""
    return parent.select(
        F.col("id").alias("parent_id"), F.posexplode(array_col).alias("_pos", "_c")
    ).select(id_of(F.col("parent_id"), F.col("_pos")).alias("id"), "parent_id", "_c.*")


def melt_attrs(parent: DataFrame) -> DataFrame:
    """Attrs melt: one (parent_id, key, type, str) row per element of the
    ``attrs`` array — the same long shape as the main attrs record
    (attributes_16.go:41-51)."""
    return parent.select(F.col("id").alias("parent_id"), F.explode("attrs").alias("a")).select(
        "parent_id",
        F.col("a.key").alias("key"),
        F.lit(ATTR_STR).cast("tinyint").alias("type"),
        F.col("a.str").alias("str"),
    )


def _nullable(t: DataType) -> DataType:
    """``t`` with every array element and struct field nullable: the type a
    nested child array has always carried."""
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType)) for f in t.fields])
    return t


def nest(
    parent: DataFrame,
    children: DataFrame,
    name: str,
    fields: Sequence[str] | None = None,
    on: Sequence[str] = ("id",),
    by: Sequence[str] = ("parent_id",),
) -> DataFrame:
    """Fold flat ``children`` into the array column ``name`` of ``parent``
    (the decode-side parent wiring, pkg/otel/metrics/otlp/related_data.go:84-156).

    Children group by their ``by`` columns, matched to the parent's ``on``
    columns; each array is ``sort_array(collect_list(struct(fields)))``,
    ``fields`` defaulting to the children's columns other than ``id`` and
    ``by``. A parent without children gets an empty array, typed from the
    aggregate itself with every level made nullable."""
    if fields is None:
        fields = [c for c in children.columns if c not in ("id", *by)]
    grouped = children.groupBy(*[F.col(b).alias(o) for b, o in zip(by, on)]).agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias(name)
    )
    empty = F.array().cast(_nullable(grouped.schema[name].dataType))
    return parent.join(grouped, list(on), "left").withColumn(name, F.coalesce(name, empty))


def nest_attrs(parent: DataFrame, attrs: DataFrame) -> DataFrame:
    """Inverse of ``melt_attrs``: the attrs record back onto its parent."""
    return nest(parent, attrs, "attrs", ("key", "str"))
