"""Pipeline queries: the core path over the canonical ``transcripts`` table.

Parse, surrogate ids, enrichment, routing, encodings and reconstruction,
plus the span/trace related records and the conversation-grain queries.
``transcripts`` is derived deterministically from the ``events`` view with
the same SQL on both engines, so every stage is oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, Window as W

from ..caching import materialize_scope, owned_result
from ..datagen import synthesize_tool_catalog, transcripts_from_events
from ..datagen.seeds import md5_bucket
from ..datagen.traces import synthesize_traces_nested
from ..datagen.transcripts import synthesize_tool_catalog_versions
from ..functions.conversations import conv_dedup, conv_quality, sft_pairs
from ..functions.grok import grok_parse
from ..operators import melt_attributes, parse_turns, route_signals
from ..operators.aggregate import field_frequencies, schema_analyzer
from ..operators.encode import delta_encode_parent_ids, with_encode_order
from ..operators.enrich import enrich_asof, enrich_with_catalog
from ..operators.normalize import assign_surrogate_ids, ranked_dim, stable_turn_order
from ..operators.obfuscate import obfuscate_strings
from ..operators.parse import SEVERITY_NUMBER
from ..operators.parse_arrow import parse_turns_arrow
from ..operators.reconstruct import reconstruct_turns
from ..operators.route import weighted_split
from ..operators.span_records import encode_traces, span_events, span_links, wire_span_children
from ..plans import build_labeled


N_CATALOG_TOOLS = 6  # tool-6 exists in data but not in catalog -> quarantine


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_turns(transcripts_from_events(spark, sf_dir))


def _routed(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    parsed = assign_surrogate_ids(_parsed(spark, sf_dir))
    cat = synthesize_tool_catalog(spark, n_tools=N_CATALOG_TOOLS)
    return route_signals(enrich_with_catalog(parsed, cat))


def q_pipeline_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/R1: per-sink aggregate counts (the north-rule surface) —
    one labeled projection + one groupBy (single scan)."""
    cat = synthesize_tool_catalog(spark, n_tools=N_CATALOG_TOOLS)
    labeled = build_labeled(transcripts_from_events(spark, sf_dir), cat)
    return labeled.groupBy("sink").agg(
        F.count(F.lit(1)).alias("n_rows"), F.countDistinct("conv_id").alias("n_convs")
    )


def q_pipeline_parse_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P6: parsed log-like turns with typed fields."""
    return (
        _parsed(spark, sf_dir)
        .where(F.col("signal_type") == "log")
        .select(
            "conv_id",
            "turn_idx",
            "log_ts_us",
            "severity_text",
            "severity_number",
            "msg",
            "code",
            "retry",
        )
    )


def q_pipeline_parse_logs_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P6 via the vectorized Arrow-UDF parse (mapInArrow + RE2) — same
    oracle as the JVM expression parse: both physical paths must agree
    (reference discipline: profiler.go:278-295 cross-protocol equality)."""
    return (
        parse_turns_arrow(transcripts_from_events(spark, sf_dir))
        .where(F.col("signal_type") == "log")
        .select(
            "conv_id",
            "turn_idx",
            "log_ts_us",
            "severity_text",
            "severity_number",
            "msg",
            "code",
            "retry",
        )
    )


def q_pipeline_parse_logs_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P6 via the grok fallback (pandas-UDF named-macro parse) — third
    physical path, same oracle as the JVM and Arrow parses."""
    t = transcripts_from_events(spark, sf_dir)
    logs = t.where(F.col("text").rlike(r"^ts_us=[0-9]+ level="))
    pat = (
        r'ts_us=%{POSINT:log_ts_us} level=%{LOGLEVEL:severity_text}'
        r'(?: msg="%{DATA:msg}")?(?: code=%{POSINT:code})?(?: retry=%{BOOL:retry})?$'
    )
    parsed = grok_parse(logs, pat)
    sev_num = F.element_at(
        F.create_map(*[y for k, v in SEVERITY_NUMBER.items() for y in (F.lit(k), F.lit(v))]),
        F.col("severity_text"),
    )
    return parsed.select(
        "conv_id",
        "turn_idx",
        F.col("log_ts_us").try_cast("long").alias("log_ts_us"),
        "severity_text",
        sev_num.cast("int").alias("severity_number"),
        "msg",
        F.col("code").try_cast("long").alias("code"),
        (F.col("retry") == "true").alias("retry"),
    )


def q_pipeline_parse_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _parsed(spark, sf_dir)
        .where(F.col("signal_type") == "metric")
        .select("conv_id", "turn_idx", "metric_name", "metric_value", "metric_unit")
    )


def q_pipeline_parse_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _parsed(spark, sf_dir)
        .where(F.col("signal_type") == "trace")
        .select("conv_id", "turn_idx", "span_hex", "parent_hex", "dur_ms")
    )


def q_pipeline_enrich_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: broadcast enrichment; per-service turn counts."""
    cat = synthesize_tool_catalog(spark, n_tools=N_CATALOG_TOOLS)
    enriched = enrich_with_catalog(_parsed(spark, sf_dir), cat)
    return (
        enriched.where(F.col("service_name").isNotNull())
        .groupBy("service_name")
        .agg(F.count(F.lit(1)).alias("n_turns"), F.countDistinct("conv_id").alias("n_convs"))
    )


def q_pipeline_enrich_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (as-of / SCD2) enrichment: each turn resolves the catalog
    version in effect at its timestamp. Zero fact-side shuffle: versions
    collapse to one broadcast row per tool carrying a sorted array; the
    as-of lookup is a pure array expression (operators/enrich.py)."""
    t = transcripts_from_events(spark, sf_dir).where(F.col("tool").isNotNull())
    vers = synthesize_tool_catalog_versions(spark, n_tools=7)
    return (
        enrich_asof(t, vers)
        .groupBy("service_name")
        .agg(F.count(F.lit(1)).alias("n_turns"), F.countDistinct("conv_id").alias("n_convs"))
    )


def q_pipeline_attrs_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4/P8: long attrs table — the full AnyValue union (6 type tags:
    str/int/double/bool/bytes/ser; bytes surfaced as hex for the
    engine-portable value hash, ser is the JSON-serialized nested value)."""
    attrs = melt_attributes(_parsed(spark, sf_dir))
    return attrs.select(
        "conv_id",
        "turn_idx",
        "key",
        F.col("type").cast("int").alias("type"),
        "str",
        "int",
        "double",
        "bool",
        F.hex("bytes").alias("bytes_hex"),
        "ser",
    )


def q_pipeline_stable_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: stable turn ordering window."""
    return stable_turn_order(transcripts_from_events(spark, sf_dir)).select(
        "conv_id", "turn_idx", "turn_order"
    )


def q_conv_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT (prompt, completion) pair mining from chat logs: each user turn
    paired with the immediately following assistant turn under stable turn
    ordering — ONE window shuffle on conv_id (the ordering invariant's own
    partitioning), token counts per side. Oracle: the same LEAD window in
    DuckDB."""
    return sft_pairs(transcripts_from_events(spark, sf_dir))


def q_conv_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-structure quality filter (the pre-SFT gate): turn-count
    bounds, both-roles-present, role-alternation rate >= 0.5 — flagged, not
    filtered. One window + one groupBy, both on conv_id (the stable-order
    invariant's own partitioning, reused). Oracle: the same LEAD window +
    aggregate in DuckDB with BIGINT-cast sums."""
    return conv_quality(transcripts_from_events(spark, sf_dir))


def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-LEVEL dedup groups (a duplicated conversation
    duplicates every turn — turn/doc-grain dedup undercounts): digit-
    stripped template fingerprint summed from position-encoded per-turn
    md5 terms, so no conversation is ever materialized (no collect_list,
    no window); keep-first = min conv_id per (fp, n_turns) group. Oracle:
    identical two-level GROUP BY in DuckDB ('0x'||hex UBIGINT terms)."""
    return conv_dedup(transcripts_from_events(spark, sf_dir))


def q_pipeline_dict_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: dictionary table for the tool column (sorted codes)."""
    t = transcripts_from_events(spark, sf_dir)
    # windowless rank over the distinct tool set (O(#tools))
    return ranked_dim(
        t.where(F.col("tool").isNotNull()), ("tool",), "tool_code", id_type="int", start=0
    )


def q_pipeline_delta_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: parent-id delta-group encoding over the melted attrs.

    n_buckets=16 scopes window state to (key, bucket) — the batch analog —
    so no single task ever owns a whole attribute key (~6 keys would mean
    <=6 window tasks for 10^12 rows otherwise). parent_id and enc_bucket
    are md5-derived (engine-portable) so the DuckDB oracle replays the
    full encode — window, group detection, deltas — exactly."""
    attrs = melt_attributes(_parsed(spark, sf_dir)).withColumn(
        "parent_id",
        (md5_bucket(F.col("conv_id"), 100000) * 1000 + F.col("turn_idx")).cast("long"),
    )
    attrs = attrs.withColumn("enc_bucket", md5_bucket(F.col("parent_id"), 16).cast("int"))
    enc = delta_encode_parent_ids(with_encode_order(attrs, n_buckets=16), n_buckets=16)
    # aggregate (stable surface): per key, #groups and delta checksum
    return enc.groupBy("key").agg(
        F.sum(F.col("group_start").cast("long")).alias("n_groups"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(~F.col("group_start"), F.col("parent_id_delta")).otherwise(F.lit(0))).alias(
            "delta_sum"
        ),
        F.min(F.col("parent_id_delta")).alias("min_delta"),
    )


def q_pipeline_route_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/R1: quarantine rows with error labels (error-not-crash)."""
    return _routed(spark, sf_dir)["quarantine"].select("conv_id", "turn_idx", "error")


def q_pipeline_severity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-style analytics: per-severity counts over parsed logs.

    Integer-only surface: sum_code + n_code as BIGINTs instead of a rounded
    double mean — round(sum/count, 4) lands exactly on half-way decimal
    boundaries for integer codes, where round() tie-breaking differs across
    engines/versions; the mean is a trivial client-side division of two
    exactly-reproducible integers."""
    return (
        _parsed(spark, sf_dir)
        .where(F.col("signal_type") == "log")
        .groupBy("severity_text")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("retry"), 1).otherwise(0)).alias("n_retry"),
            F.sum("code").alias("sum_code"),
            F.count("code").alias("n_code"),
        )
    )


def q_pipeline_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: first-seen change detection — running signal-segment id per conv."""
    parsed = _parsed(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    changed = (
        F.when(F.lag("signal_type").over(w).isNull(), 1)
        .when(F.col("signal_type") == F.lag("signal_type").over(w), 0)
        .otherwise(1)
    )
    seg = F.sum(changed).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return parsed.select(
        "conv_id", "turn_idx", "signal_type", seg.cast("long").alias("segment_id")
    )


def q_pipeline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/J1-J3 round-trip: route to per-sink views, reconstruct the original
    relation from the union of sinks. Oracle = the transcripts table itself —
    the driver's value-hash IS the routed-row equality gate (the analog of
    assert.Equiv, /root/reference/pkg/otel/assert/equiv.go:107-157)."""
    return reconstruct_turns(_routed(spark, sf_dir)).select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )


def q_pipeline_obfuscate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: deterministic string obfuscation (hash mode) over log messages."""
    logs = _parsed(spark, sf_dir).where(F.col("signal_type") == "log")
    return obfuscate_strings(logs, ["msg"], mode="hash").select(
        "conv_id", "turn_idx", F.col("msg").alias("msg_token")
    )


def q_pipeline_schema_analyzer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-column schema statistics (exact mode at oracle SF; approx
    HyperLogLog mode is the 10^12-row path)."""
    t = transcripts_from_events(spark, sf_dir).select("conv_id", "turn_idx", "role", "text", "tool")
    out = schema_analyzer(t, approx=False)
    return out.select(
        "column", "n_distinct", F.round("null_frac", 6).alias("null_frac"),
        "min_value", "max_value", "n_rows",
    )


def q_pipeline_field_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 analyzer depth: per-field top-5 value distributions over the
    transcript dimensions (role, tool) — each column's top-k is a
    map-side-combined groupBy + TakeOrderedAndProject, never a global
    window."""
    return field_frequencies(transcripts_from_events(spark, sf_dir), ["role", "tool"], k=5)


def q_pipeline_weighted_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: weighted traffic splitting to exporter sets (8/5/3 sixteenths)."""
    split = weighted_split(
        transcripts_from_events(spark, sf_dir), {"exp-a": 8, "exp-b": 5, "exp-c": 3}
    )
    return split.groupBy("exporter").agg(
        F.count(F.lit(1)).alias("n_rows"), F.countDistinct("conv_id").alias("n_convs")
    )


def _record_counts(
    encode: Callable[[DataFrame], dict[str, DataFrame]], nested: DataFrame
) -> DataFrame:
    """(record, n_rows) for every record table ``encode(nested)`` emits,
    over ``nested`` materialized once: the per-record count branches would
    otherwise each re-run the generator's shuffles."""
    with materialize_scope() as m:
        parts = [
            df.agg(F.count(F.lit(1)).alias("n_rows")).select(F.lit(name).alias("record"), "n_rows")
            for name, df in sorted(encode(m.keep(nested)).items())
        ]
        return owned_result(reduce(DataFrame.unionByName, parts))


def _trace_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir).where(F.col("signal_type") == "trace")


def q_pipeline_span_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN_EVENTS related record: start/end lifecycle events per span."""
    return span_events(_trace_points(spark, sf_dir))


def q_pipeline_span_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN_LINKS related record: link to the conversation-parent span."""
    return span_links(_trace_points(spark, sf_dir))


def q_pipeline_span_event_wiring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 decode-side wiring: children grouped and re-attached per span —
    the reconstruct analog of the reference's related-data store lookups."""
    traces = _trace_points(spark, sf_dir)
    wired = wire_span_children(traces, span_events(traces), span_links(traces))
    return wired.select(
        "conv_id",
        "turn_idx",
        "span_hex",
        "n_events",
        "n_links",
        (F.col("last_event_ts_us") - F.col("first_event_ts_us")).alias("span_us"),
    )


def q_pipeline_trace_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full trace star-schema encode over the nested generator: per-record
    row counts. The generator is md5-seeded (datagen/seeds.py), so the
    DuckDB oracle replays it; encode∘decode == id is pytest-gated
    (test_span_records.py::test_traces_star_roundtrip)."""
    return _record_counts(encode_traces, synthesize_traces_nested(spark, n_spans=300))


def q_pipeline_sink_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation over (sink, severity): per-combination counts
    plus per-sink and grand totals in one pass (§2.6 — the reference has
    no grouping-sets machinery; Spark's rollup is the built-in). grouping
    ids disambiguate the NULL subtotal rows engine-portably."""
    cat = synthesize_tool_catalog(spark, n_tools=N_CATALOG_TOOLS)
    labeled = build_labeled(transcripts_from_events(spark, sf_dir), cat)
    # project BEFORE rollup: the grouping-sets Expand replicates every row
    # once per grouping set, so it must see only the grouping columns —
    # expanding the full wide payload row measured 3.5x slower
    return (
        labeled.select("sink", "severity_text")
        .rollup("sink", "severity_text")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("sink").cast("int").alias("g_sink"),
            F.grouping("severity_text").cast("int").alias("g_sev"),
        )
        .select("sink", "severity_text", "g_sink", "g_sev", "n")
    )


def q_pipeline_delta_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: delta encoding of sorted surrogate IDs + the maxDelta<=1
    monotonicity invariant (the reference panics on violation as a sort-bug
    detector, builder/uint.go:261-265; here it's an asserted column).

    Two-phase so no window ever sees the fact table in one partition:
    within a res_id run (the table sorted by res_id first) every
    consecutive delta is 0 by construction, so only the run-head delta is
    informative — phase 1 is a distributed groupBy(res_id); phase 2 runs
    the lag window over the aggregated dimension table (O(#resources)
    rows, never O(turns))."""
    parsed = assign_surrogate_ids(_parsed(spark, sf_dir))
    per_res = parsed.groupBy("res_id").agg(F.count(F.lit(1)).alias("n_rows"))
    # phase 2 runs windowlessly on the aggregated dimension (O(#resources)):
    # sorted array + posexplode, prev id = arr[pos-1]
    agg = per_res.agg(F.sort_array(F.collect_list(F.struct("res_id", "n_rows"))).alias("_v"))
    exploded = agg.select(F.posexplode("_v").alias("_pos", "_s"), F.col("_v"))
    prev = F.when(F.col("_pos") > 0, F.col("_v")[F.col("_pos") - 1]["res_id"]).otherwise(F.lit(0))
    head_delta = F.col("_s.res_id") - prev
    return exploded.select(
        F.col("_s.res_id").alias("res_id"),
        F.col("_s.n_rows").alias("n_rows"),
        # in-run deltas are all 0 and head_delta >= 1 (dense ascending ids),
        # so the run's max/sum of deltas both equal the head delta
        head_delta.alias("max_delta"),
        head_delta.alias("delta_sum"),
    )
