"""Span events and links as related records (O6, J3-for-real).

The reference's trace model carries per-span EVENT and LINK related records
with their own ids, attrs and sorts
(/root/reference/pkg/otel/traces/arrow/event.go:46-52 schema,
event.go:98-103 sorter strategies; link.go:47-55). Transcript trace turns
have no explicit sub-events, so the records derive deterministically from
the span itself — start/end lifecycle events from (ts, dur_ms) and one link
to the conversation's parent span — which keeps every record oracle-checkable
in SQL while exercising the same star-schema wiring:

- ``span_events``: 1-2 rows per span (span.start at ts, span.end at
  ts + dur_ms when duration is known), EventSchema shape
  (parent ref, ts, name, dropped_attributes_count).
- ``span_links``: one row per span with a parent (link to the conv's
  parent span; trace id = md5(conv_id) — engine-portable), LinkSchema
  shape (parent ref, trace_id, span_id, trace_state).
- ``wire_span_children``: the decode-side J3 join — group children and
  re-attach to the span row (n_events, event ts range, n_links), the
  analog of the store lookups in
  /root/reference/pkg/otel/traces/otlp/related_data.go.
- ``encode_traces`` / ``decode_traces``: the nested-span star schema
  (spans, events, links, each with its attrs record) and its inverse,
  written over the shared split/nest core in ``operators/star.py`` (child
  explode, attrs melt, typed nest) that the metrics codec also uses.

All pure column expressions; the explode is per-row (no shuffle), the
wiring is two grouped joins on the span's natural key.

Sorts (O6): no event or link sink is written, so the reference's
EventsByNameParentId (name, parent) and by-parent link sorts have no
write to apply to; a future writer would sortWithinPartitions on them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .star import assign_row_ids, explode_children, melt_attrs, nest, nest_attrs

SPAN_KEY = ("conv_id", "turn_idx", "span_hex")


def _ts_us() -> F.Column:
    return F.unix_micros(F.col("ts").cast("timestamp"))


def span_events(traces: DataFrame) -> DataFrame:
    """Trace turns -> SPAN_EVENTS related record (event.go:46-52 shape).

    span.start always; span.end only when dur_ms is known (optional-field
    elision, P6)."""
    start = F.struct(
        F.lit("span.start").alias("event_name"), _ts_us().alias("event_ts_us")
    )
    end = F.when(
        F.col("dur_ms").isNotNull(),
        F.struct(
            F.lit("span.end").alias("event_name"),
            (_ts_us() + F.col("dur_ms") * 1000).alias("event_ts_us"),
        ),
    )
    events = F.filter(F.array(start, end), lambda e: e.isNotNull())
    return traces.select(*SPAN_KEY, F.explode(events).alias("e")).select(
        *SPAN_KEY,
        F.col("e.event_name").alias("event_name"),
        F.col("e.event_ts_us").alias("event_ts_us"),
        F.lit(0).cast("int").alias("dropped_attributes_count"),
    )


def span_links(traces: DataFrame) -> DataFrame:
    """Trace turns -> SPAN_LINKS related record (link.go:47-55 shape): the
    span links to its conversation-parent span; the linked trace id is
    md5(conv_id) (16 bytes, engine-portable like weighted_split)."""
    return (
        traces.where(F.col("parent_hex").isNotNull())
        .select(
            *SPAN_KEY,
            F.md5(F.col("conv_id")).alias("link_trace_hex"),
            F.lpad(F.col("parent_hex"), 16, "0").alias("link_span_hex"),
            F.lit(None).cast("string").alias("trace_state"),
            F.lit(0).cast("int").alias("dropped_attributes_count"),
        )
    )


# nested child array -> (its record, that record's attrs record)
SPAN_CHILDREN = {
    "events": ("span_events", "span_event_attrs"),
    "links": ("span_links", "span_link_attrs"),
}


def encode_traces(nested: DataFrame) -> dict[str, DataFrame]:
    """Nested spans -> star schema: SPANS main + SPAN_ATTRS + SPAN_EVENTS
    (+ event attrs) + SPAN_LINKS (+ link attrs), surrogate-keyed exactly
    like the metrics family from the row-unique ``gen_id``
    (traces/arrow/related_data.go registry; event.go:46-52, link.go:47-55
    schemas)."""
    m = assign_row_ids(nested, ("gen_id",))
    main = [c for c in nested.columns if c not in ("attrs", *SPAN_CHILDREN, "gen_id")]
    records = {"spans": m.select("id", *main, "gen_id"), "span_attrs": melt_attrs(m)}
    for array_col, (name, attrs_name) in SPAN_CHILDREN.items():
        children = explode_children(m, array_col)
        records[name] = children.drop("attrs")
        records[attrs_name] = melt_attrs(children)
    return records


def decode_traces(records: dict[str, DataFrame]) -> DataFrame:
    """Inverse of encode_traces: attach attrs to spans, events and links,
    then re-nest events and links onto their spans, reproducing the input
    (validation_test.go round-trip)."""
    out = nest_attrs(records["spans"], records["span_attrs"])
    for array_col, (name, attrs_name) in SPAN_CHILDREN.items():
        out = nest(out, nest_attrs(records[name], records[attrs_name]), array_col)
    return out


def wire_span_children(
    traces: DataFrame, events: DataFrame, links: DataFrame
) -> DataFrame:
    """J3 decode-side wiring: re-attach grouped children to each span.

    Adds n_events, first/last event ts and n_links; spans without children
    get zeros (left joins on the span key — broadcast-or-shuffle decided by
    AQE; both sides share the (conv_id, turn_idx) key grain)."""
    ev = events.groupBy(*SPAN_KEY).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_ts_us").alias("first_event_ts_us"),
        F.max("event_ts_us").alias("last_event_ts_us"),
    )
    ln = links.groupBy(*SPAN_KEY).agg(F.count(F.lit(1)).alias("n_links"))
    out = traces.join(ev, list(SPAN_KEY), "left").join(ln, list(SPAN_KEY), "left")
    return out.withColumn("n_events", F.coalesce("n_events", F.lit(0))).withColumn(
        "n_links", F.coalesce("n_links", F.lit(0))
    )
