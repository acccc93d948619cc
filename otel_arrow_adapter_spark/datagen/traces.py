"""Deterministic nested-traces generator (the ptrace.Traces analog).

One row per span with events/links/attrs nested, mirroring the source
shape the reference's producer walks (ResourceSpans ⊃ ScopeSpans ⊃ Span ⊃
{Event, Link}, /root/reference/pkg/otel/traces/arrow/optimizer.go:75-113).
Same construction discipline as datagen/metrics.py: seeded hash-of-id
columns, children generated flat and nested by the star-schema core's
``nest`` (operators/star.py) — the fold ``decode_traces`` re-nests with —
so arrays are canonical and a decode reproduces the input exactly
(validation_test.go round-trip analog).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.star import nest

_EPOCH = 1_704_067_200_000_000  # µs


def _kv(h: Column) -> Column:
    """0-2 string attrs, keys in sorted order ('env' < 'zone')."""
    env = F.struct(
        F.lit("env").alias("key"), F.format_string("e-%d", F.pmod(h, F.lit(3))).alias("str")
    )
    zone = F.struct(
        F.lit("zone").alias("key"), F.format_string("z-%d", F.pmod(h, F.lit(5))).alias("str")
    )
    return F.filter(
        F.array(
            F.when(F.pmod(h, F.lit(4)) != 0, env),
            F.when(F.pmod(h, F.lit(5)) != 1, zone),
        ),
        lambda x: x.isNotNull(),
    )


def synthesize_traces_nested(spark: SparkSession, n_spans: int = 300, seed: int = 42) -> DataFrame:
    """Nested spans table: (gen_id, res_id, scope_id, trace_hex, span_hex,
    parent_span_hex, name, kind, start_ts_us, dur_ms, status_code, attrs,
    events, links)."""
    from .seeds import seed_hash

    base = (
        spark.range(0, n_spans, 1, spark.sparkContext.defaultParallelism)
        # md5-derived (not xxhash64) so a DuckDB oracle can replay the
        # generator exactly — see datagen/seeds.py
        .withColumn("h", seed_hash(F.col("id"), seed))
        .withColumn("n_events", F.pmod(F.col("h"), F.lit(4)).cast("int"))
        .withColumn("n_links", F.pmod(F.col("h") + 1, F.lit(3)).cast("int"))
    )
    h = F.col("h")
    start = F.lit(_EPOCH) + F.col("id") * 1_000_000

    ev = base.where(F.col("n_events") > 0).select(
        F.col("id").alias("gen_id"),
        "h",
        F.explode(F.slice(F.sequence(F.lit(0), F.lit(2)), 1, F.col("n_events"))).alias("e"),
    )
    ev_rows = ev.select(
        "gen_id",
        (F.lit(_EPOCH) + F.col("gen_id") * 1_000_000 + F.col("e") * 100 + 1).alias("ts_us"),
        F.element_at(
            F.array(F.lit("retry"), F.lit("cache_miss"), F.lit("flush")),
            (F.pmod(F.col("h") + F.col("e"), F.lit(3)) + 1).cast("int"),
        ).alias("name"),
        _kv(F.col("h") + F.col("e")).alias("attrs"),
    )

    ln = base.where(F.col("n_links") > 0).select(
        F.col("id").alias("gen_id"),
        "h",
        F.explode(F.slice(F.sequence(F.lit(0), F.lit(1)), 1, F.col("n_links"))).alias("l"),
    )
    ln_rows = ln.select(
        "gen_id",
        F.format_string("%032x", F.pmod(F.col("h") + F.col("l"), F.lit(0xFFFFF)) + 1).alias(
            "trace_hex"
        ),
        F.format_string("%016x", F.pmod(F.col("h") + F.col("l"), F.lit(0xFFFF)) + 1).alias(
            "span_hex"
        ),
        F.when(F.pmod(F.col("h") + F.col("l"), F.lit(3)) == 0, F.lit("sampled")).alias(
            "trace_state"
        ),
        _kv(F.col("h") + F.col("l") + 7).alias("attrs"),
    )

    spans = base.select(
        F.col("id").alias("gen_id"),
        F.pmod(h, F.lit(5)).alias("res_id"),
        F.pmod(h, F.lit(3)).alias("scope_id"),
        F.format_string("%032x", F.pmod(h, F.lit(0xFFFFFF)) + 1).alias("trace_hex"),
        F.format_string("%016x", F.col("id") + 1).alias("span_hex"),
        F.when(
            F.pmod(h, F.lit(4)) != 0,
            F.format_string("%016x", F.pmod(h, F.lit(n_spans)) + 1),
        ).alias("parent_span_hex"),
        F.format_string("op_%d", F.pmod(F.col("id"), F.lit(12))).alias("name"),
        (F.pmod(h, F.lit(5)) + 1).cast("int").alias("kind"),
        start.alias("start_ts_us"),
        (F.pmod(h, F.lit(10_000)) + 1).alias("dur_ms"),
        F.pmod(h, F.lit(3)).cast("int").alias("status_code"),
        _kv(h + 13).alias("attrs"),
    )
    spans = nest(spans, ev_rows, "events", on=("gen_id",), by=("gen_id",))
    return nest(spans, ln_rows, "links", on=("gen_id",), by=("gen_id",))
