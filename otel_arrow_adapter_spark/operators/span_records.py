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

All pure column expressions; the explode is per-row (no shuffle), the
wiring is two grouped joins on the span's natural key.

Sorts (O6): no event or link sink is written, so the reference's
EventsByNameParentId (name, parent) and by-parent link sorts have no
write to apply to; a future writer would sortWithinPartitions on them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def encode_traces(nested: DataFrame, id_key: tuple[str, ...] = ("gen_id",)) -> dict[str, DataFrame]:
    """Nested spans -> star schema: SPANS main + SPAN_ATTRS + SPAN_EVENTS
    (+ event attrs) + SPAN_LINKS (+ link attrs), surrogate-keyed exactly
    like the metrics family (traces/arrow/related_data.go registry;
    event.go:46-52, link.go:47-55 schemas)."""
    from .metrics_dp import _child_id, assign_row_ids

    m = assign_row_ids(nested, id_key)
    records: dict[str, DataFrame] = {}
    records["spans"] = m.select(
        "id",
        "res_id",
        "scope_id",
        "trace_hex",
        "span_hex",
        "parent_span_hex",
        "name",
        "kind",
        "start_ts_us",
        "dur_ms",
        "status_code",
        *id_key,
    )

    def attrs_of(df: DataFrame, src: str) -> DataFrame:
        return df.select(F.col("id").alias("parent_id"), F.explode(src).alias("a")).select(
            "parent_id",
            F.col("a.key").alias("key"),
            F.lit(1).cast("tinyint").alias("type"),
            F.col("a.str").alias("str"),
        )

    records["span_attrs"] = attrs_of(m, "attrs")

    ev = m.select(F.col("id").alias("parent_id"), F.posexplode("events").alias("_pos", "ev"))
    ev = ev.withColumn("id", _child_id(F.col("parent_id"), F.col("_pos")))
    records["span_events"] = ev.select(
        "id", "parent_id", F.col("ev.ts_us").alias("ts_us"), F.col("ev.name").alias("name")
    )
    records["span_event_attrs"] = attrs_of(ev.withColumn("attrs", F.col("ev.attrs")), "attrs")

    ln = m.select(F.col("id").alias("parent_id"), F.posexplode("links").alias("_pos", "ln"))
    ln = ln.withColumn("id", _child_id(F.col("parent_id"), F.col("_pos")))
    records["span_links"] = ln.select(
        "id",
        "parent_id",
        F.col("ln.trace_hex").alias("trace_hex"),
        F.col("ln.span_hex").alias("span_hex"),
        F.col("ln.trace_state").alias("trace_state"),
    )
    records["span_link_attrs"] = attrs_of(ln.withColumn("attrs", F.col("ln.attrs")), "attrs")
    return records


def decode_traces(records: dict[str, DataFrame]) -> DataFrame:
    """Inverse of encode_traces: attach attrs to events/links, re-nest both
    onto spans, reproduce the input (validation_test.go round-trip)."""
    attrs_t = "array<struct<key:string,str:string>>"

    def with_attrs(df: DataFrame, attrs: DataFrame) -> DataFrame:
        at = attrs.groupBy("parent_id").agg(
            F.sort_array(F.collect_list(F.struct("key", "str"))).alias("attrs")
        )
        out = df.join(at, df["id"] == at["parent_id"], "left").drop(at["parent_id"])
        return out.withColumn("attrs", F.coalesce("attrs", F.array().cast(attrs_t)))

    ev = with_attrs(records["span_events"], records["span_event_attrs"])
    events = ev.groupBy("parent_id").agg(
        F.sort_array(F.collect_list(F.struct("ts_us", "name", "attrs"))).alias("events")
    )
    ln = with_attrs(records["span_links"], records["span_link_attrs"])
    links = ln.groupBy("parent_id").agg(
        F.sort_array(
            F.collect_list(F.struct("trace_hex", "span_hex", "trace_state", "attrs"))
        ).alias("links")
    )
    sp = with_attrs(records["spans"], records["span_attrs"])
    out = (
        sp.join(events, sp["id"] == events["parent_id"], "left")
        .drop("parent_id")
        .join(links, F.col("id") == links["parent_id"], "left")
        .drop("parent_id")
    )
    from ..datagen.traces import EVENTS_T, LINKS_T

    return out.withColumn("events", F.coalesce("events", F.array().cast(EVENTS_T))).withColumn(
        "links", F.coalesce("links", F.array().cast(LINKS_T))
    )


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
