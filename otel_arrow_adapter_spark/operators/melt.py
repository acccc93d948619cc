"""P3/P4/P8: attribute melt — map-shaped attributes -> long KV table.

Reference shape: one row per (parent, key, value) with a u8 type tag and one
nullable column per value type — the full 7-way AnyValue union
(/root/reference/pkg/otel/common/arrow/attributes_16.go:41-51 schema,
:131-196 dispatch; accumulate at attributes.go:229-256). We produce the same
long table from the parsed typed columns with a single ``explode`` of a
per-row struct array — no shuffle, no UDF; empty keys and null values are
skipped exactly like the accumulator skips them (attributes.go:237-239).

The union covers 6 physical columns for the 7 logical cases: str, int,
double, bool, bytes, and ``ser`` — the escape hatch for nested slice/map
values, which the reference CBOR-encodes
(/root/reference/pkg/otel/common/cbor.go:42-66); here nested values
round-trip through JSON (``to_json``/``from_json``, see ``decode_ser``),
same "serialize the recursion" semantics with an engine-portable codec.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# AnyValue discriminant (attributes_16.go:131-196: str/int/double/bool/
# bytes + slice/map, the last two both landing in `ser`).
ATTR_STR, ATTR_INT, ATTR_DOUBLE, ATTR_BOOL, ATTR_BYTES, ATTR_SER = 1, 2, 3, 4, 5, 6

VALUE_COLS = ("str", "int", "double", "bool", "bytes", "ser")

def _null(t: str) -> Column:
    return F.lit(None).cast(t)


_TYPES = {"str": "string", "int": "long", "double": "double", "bool": "boolean",
          "bytes": "binary", "ser": "string"}


def _attr(key: str, type_tag: int, value_col: str, v: Column) -> Column:
    fields = [F.lit(key).alias("key"), F.lit(type_tag).cast("tinyint").alias("type")]
    for c in VALUE_COLS:
        fields.append(
            (v.cast(_TYPES[c]) if c == value_col else _null(_TYPES[c])).alias(c)
        )
    return F.struct(*fields)


def str_attr(key: str, v: Column) -> Column:
    return _attr(key, ATTR_STR, "str", v)


def int_attr(key: str, v: Column) -> Column:
    return _attr(key, ATTR_INT, "int", v)


def double_attr(key: str, v: Column) -> Column:
    return _attr(key, ATTR_DOUBLE, "double", v)


def bool_attr(key: str, v: Column) -> Column:
    return _attr(key, ATTR_BOOL, "bool", v)


def bytes_attr(key: str, v: Column) -> Column:
    return _attr(key, ATTR_BYTES, "bytes", v)


def ser_attr(key: str, v: Column) -> Column:
    """Nested (slice/map) value serialized to JSON — the CBOR escape hatch
    analog (cbor.go:42-66). Pass ``to_json(struct(...))`` / a JSON string."""
    return _attr(key, ATTR_SER, "ser", v)


def decode_ser(ser: Column, schema: str) -> Column:
    """P8 decode mirror: JSON string -> nested value (from_json)."""
    return F.from_json(ser, schema)


def default_attrs():
    """Default attribute set melted from parsed turns — one attr per union
    arm. The value expression must already be typed; rows whose value is
    null are dropped (non-default suppression, P6). ``value_scaled`` is the
    double arm; ``span_bytes`` the bytes arm (the binary span id,
    logs.go:47-48); ``link`` the nested/ser arm (parent+duration struct as
    JSON, emitted only when fully populated so both engines serialize the
    same fields)."""
    return [
        ("tool", "str", F.col("tool")),
        ("level", "str", F.col("severity_text")),
        ("code", "int", F.col("code")),
        ("retry", "bool", F.col("retry")),
        ("unit", "str", F.col("metric_unit")),
        ("dur_ms", "int", F.col("dur_ms")),
        ("value_scaled", "double", F.col("metric_value") / 100.0),
        ("span_bytes", "bytes", F.unhex(F.col("span_hex"))),
        (
            "link",
            "ser",
            F.when(
                F.col("parent_hex").isNotNull() & F.col("dur_ms").isNotNull(),
                F.to_json(
                    F.struct(
                        F.col("parent_hex").alias("parent"), F.col("dur_ms").alias("dur")
                    )
                ),
            ),
        ),
    ]

_BUILDERS = {
    "str": str_attr,
    "int": int_attr,
    "double": double_attr,
    "bool": bool_attr,
    "bytes": bytes_attr,
    "ser": ser_attr,
}


def melt_attributes(parsed: DataFrame) -> DataFrame:
    """parsed turns -> long attrs table (conv_id, turn_idx, key, type, str,
    int, double, bool, bytes, ser) of the ``default_attrs`` set.

    One explode, null values filtered by checking the type-appropriate value
    column — keeps the whole melt inside whole-stage codegen.
    """
    entries = F.array(*[_BUILDERS[t](k, v) for k, t, v in default_attrs()])
    non_null = F.filter(
        entries,
        lambda a: a["str"].isNotNull()
        | a["int"].isNotNull()
        | a["double"].isNotNull()
        | a["bool"].isNotNull()
        | a["bytes"].isNotNull()
        | a["ser"].isNotNull(),
    )
    parent_cols = ("conv_id", "turn_idx")
    return parsed.select(
        *parent_cols, F.explode(non_null).alias("a")
    ).select(
        *parent_cols,
        F.col("a.key").alias("key"),
        F.col("a.type").alias("type"),
        *[F.col(f"a.{c}").alias(c) for c in VALUE_COLS],
    )
