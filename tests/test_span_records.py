"""Span events/links related records: derivation + J3 wiring round-trip
(the reference round-trips events+links through their related records,
/root/reference/pkg/otel/traces/validation_test.go)."""

import pyspark.sql.functions as F

from otel_arrow_adapter_spark.operators.parse import parse_turns
from otel_arrow_adapter_spark.operators.span_records import (
    span_events,
    span_links,
    wire_span_children,
)


def _traces(transcripts):
    return parse_turns(transcripts).where(F.col("signal_type") == "trace")


def test_span_events_lifecycle(spark, transcripts):
    traces = _traces(transcripts).cache()
    ev = span_events(traces)
    n_spans = traces.count()
    n_with_dur = traces.where(F.col("dur_ms").isNotNull()).count()
    assert ev.count() == n_spans + n_with_dur  # start always, end iff dur
    names = {r[0] for r in ev.select("event_name").distinct().collect()}
    assert names == {"span.start", "span.end"}
    # end - start == dur_ms * 1000 for every span with a duration
    spread = (
        ev.groupBy("conv_id", "turn_idx")
        .agg((F.max("event_ts_us") - F.min("event_ts_us")).alias("us"), F.count("*").alias("n"))
        .join(traces.select("conv_id", "turn_idx", "dur_ms"), ["conv_id", "turn_idx"])
    )
    bad = spread.where(
        (F.col("n") == 2) & (F.col("us") != F.col("dur_ms") * 1000)
    ).count()
    assert bad == 0


def test_span_links_reconstruct_parent(spark, transcripts):
    """Round-trip: the original parent_hex is recoverable from the link
    record (per-row equality, the assert.Equiv analog)."""
    traces = _traces(transcripts)
    ln = span_links(traces)
    rebuilt = ln.select(
        "conv_id", "turn_idx", F.substring("link_span_hex", 9, 8).alias("parent_hex")
    )
    orig = traces.where(F.col("parent_hex").isNotNull()).select(
        "conv_id", "turn_idx", "parent_hex"
    )
    assert rebuilt.exceptAll(orig).count() == 0
    assert orig.exceptAll(rebuilt).count() == 0


def test_wire_span_children_no_orphans(spark, transcripts):
    traces = _traces(transcripts).cache()
    wired = wire_span_children(traces, span_events(traces), span_links(traces)).cache()
    assert wired.count() == traces.count()  # wiring never drops spans
    assert wired.where(F.col("n_events") < 1).count() == 0
    # links only where a parent exists
    assert (
        wired.where((F.col("n_links") == 1) != F.col("parent_hex").isNotNull()).count() == 0
    )


def test_traces_star_roundtrip(spark):
    """Full nested-trace round-trip through the related-record star schema
    (spans + attrs + events/link records with their own attrs) — the
    analog of /root/reference/pkg/otel/traces/validation_test.go."""
    from otel_arrow_adapter_spark.datagen.traces import synthesize_traces_nested
    from otel_arrow_adapter_spark.operators.span_records import decode_traces, encode_traces

    nested = synthesize_traces_nested(spark, n_spans=150, seed=3).cache()
    records = {k: v.cache() for k, v in encode_traces(nested).items()}
    assert set(records) == {
        "spans",
        "span_attrs",
        "span_events",
        "span_event_attrs",
        "span_links",
        "span_link_attrs",
    }
    # J3: no orphan children anywhere
    for child, parent in [
        ("span_attrs", "spans"),
        ("span_events", "spans"),
        ("span_links", "spans"),
        ("span_event_attrs", "span_events"),
        ("span_link_attrs", "span_links"),
    ]:
        orphans = (
            records[child]
            .join(records[parent].select(F.col("id").alias("parent_id")), "parent_id", "left_anti")
            .count()
        )
        assert orphans == 0, f"{child}: {orphans} orphans"
    decoded = decode_traces(records)
    cols = nested.columns
    # schemas equal, nullability included, except one known gap: the
    # generator's span-level attrs have non-nullable key/str, while the
    # decode reads them back from the nullable span_attrs record columns
    got, want = decoded.select(cols).schema, nested.schema
    assert [f for f in got if f.name != "attrs"] == [f for f in want if f.name != "attrs"]
    assert got["attrs"].dataType.simpleString() == want["attrs"].dataType.simpleString()
    assert [f.nullable for f in got["attrs"].dataType.elementType] == [True, True]
    assert [f.nullable for f in want["attrs"].dataType.elementType] == [False, False]
    canon = lambda df: sorted(  # noqa: E731
        r[0] for r in df.select(F.to_json(F.struct(*sorted(cols)))).collect()
    )
    assert canon(nested) == canon(decoded)
