"""OTLP-JSON capture format (S7/S8): Export{Logs,Trace,Metrics}ServiceRequest
in protojson encoding — the reference's dataset loaders accept OTLP JSON alongside .pb
(pkg/benchmark/dataset/real_logs_dataset.go loads whole requests; the JSON
form is the public protojson rendering of the same messages).

Layout choice: ONE REQUEST PER LINE, sharded at resource grain (each line
is a complete request holding a single resource entry). The reference stores one request per file; the line-sharded form
carries identical information while keeping the writer distributed (no
driver collect) and the reader a splittable text scan.

Pure Spark SQL end-to-end: ``to_json`` / ``from_json`` / explode — ZERO
Python in the data path. The .pb sibling (otlp_pb.py) needs mapInArrow
only because protobuf wire framing isn't a SQL codec; protojson is, so
this path stays inside whole-stage codegen'd operators and the JVM's
Jackson codec.

protojson conventions for the fields used: int64 (timeUnixNano) renders as
a JSON STRING; trace/span ids as hex strings (OTLP JSON spec); AnyValue as
``{"stringValue": ...}``; absent optional fields are omitted (Spark's
``to_json`` drops nulls by default, matching protojson).

The envelope (Resource > Scope > item, attribute maps, quarantine rows)
is written once: ``_write_requests`` and ``_read_requests`` serve all three
signals, which keep only their item columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from .otlp_pb import _TEMPORAL_TYPES, PB_METRIC_SCHEMA

_KV = "array<struct<key:string,value:struct<stringValue:string>>>"


def _kv_array(m):
    """map<string,string> -> protojson KeyValue array (sorted by key so the
    rendered JSON is deterministic across runs/engines)."""
    return F.transform(
        F.array_sort(F.map_entries(m)),
        lambda e: F.struct(
            e["key"].alias("key"),
            F.struct(e["value"].alias("stringValue")).alias("value"),
        ),
    )


def _kv_map(a):
    """protojson KeyValue array -> map<string,string>."""
    return F.map_from_entries(
        F.transform(a, lambda e: F.struct(e["key"], e["value"]["stringValue"]))
    )


# ---------------------------------------------------------------------------
# the envelope core: one writer and one reader for all three signals
# ---------------------------------------------------------------------------

# the columns that key one Scope* entry: resource, scope name, scope version
_SCOPE_KEY = ("_res", "_scope", "_ver")


def _keyed(df: DataFrame, *cols) -> DataFrame:
    """``df`` with its ``res_idx`` resource key as ``_res``, its
    ``scope_name`` as ``_scope`` (a null or absent scope is the empty
    scope) and the ``scope_version`` column as ``_ver`` (null when empty
    or absent, so the version is omitted from the JSON), plus ``cols``."""
    scope = (
        F.coalesce(F.col("scope_name"), F.lit(""))
        if "scope_name" in df.columns
        else F.lit("")
    )
    version = (
        F.nullif(F.col("scope_version"), F.lit(""))
        if "scope_version" in df.columns
        else F.lit(None).cast("string")
    )
    return df.select(
        F.col("res_idx").alias("_res"), scope.alias("_scope"), version.alias("_ver"), *cols
    )


def _write_requests(
    keyed: DataFrame, path: str, signal: str, items: str, item, res_attrs: bool = False
) -> None:
    """Keyed rows -> one Export{signal}ServiceRequest line per resource.
    ``item`` (a column over ``keyed``) groups into ``items`` lists by
    (resource, scope name, scope version), scopes into ``scope{signal}``
    lists by resource.
    With ``res_attrs`` the resource's attributes are the first ``_ra`` map
    of its rows. Two grouping shuffles on dimension grain; the final
    ``.text()`` write uses Spark's commit protocol, so task retries are
    idempotent (no manual file naming needed)."""
    ra = [F.first("_ra").alias("_ra")] if res_attrs else []
    per_scope = keyed.groupBy(*_SCOPE_KEY).agg(F.collect_list(item).alias("_items"), *ra)
    scope = F.struct(
        F.struct(F.col("_scope").alias("name"), F.col("_ver").alias("version")).alias("scope"),
        F.col("_items").alias(items),
    )
    per_res = per_scope.groupBy("_res").agg(F.collect_list(scope).alias("_scopes"), *ra)
    empty = F.array().cast(_KV)
    attrs = F.coalesce(_kv_array(F.col("_ra")), empty) if res_attrs else empty
    resource = F.struct(
        F.struct(attrs.alias("attributes")).alias("resource"),
        F.col("_scopes").alias(f"scope{signal}"),
    )
    request = F.struct(F.array(resource).alias(f"resource{signal}"))
    per_res.select(F.to_json(request).alias("value")).write.mode("overwrite").text(path)


def _int64(src):
    """A protojson int64 string as a long; null when it is not one."""
    return src.try_cast("long")


def _int64_error(**srcs):
    """The first of the protojson int64 strings (keyed by the column they
    fill) that is not an int64, as an error message; null when all cast."""
    return F.coalesce(*[
        F.when(src.isNotNull() & _int64(src).isNull(),
               F.concat(F.lit(f"{name} is not an int64: "), src))
        for name, src in srcs.items()
    ])


def _quarantine_row(schema: StructType, error_col: str, message, zeroed=()) -> list:
    """One quarantine row over a reader's output ``schema``: the path,
    ``res_idx`` -1, ``__decode_error__: <message>`` in ``error_col``, 0 or
    an empty array in the ``zeroed`` columns, null elsewhere."""
    def value(f):
        if f.name == "path":
            return F.col("path")
        if f.name == "res_idx":
            return F.lit(-1)
        if f.name == error_col:
            return F.concat(F.lit("__decode_error__: "), message)
        if f.name in zeroed:
            zero = F.array() if isinstance(f.dataType, ArrayType) else F.lit(0)
            return zero.cast(f.dataType)
        return F.lit(None).cast(f.dataType)

    return [value(f).alias(f.name) for f in schema.fields]


def _read_requests(
    spark: SparkSession,
    path: str,
    schema: str,
    signal: str,
    items: str,
    flatten,
    error_col: str,
    zeroed=(),
) -> DataFrame:
    """Export{signal}ServiceRequest lines -> flat rows, error-not-crash.

    A splittable text scan parses each line with ``from_json``; resources
    explode with their position as ``res_idx``, then scopes, then the
    ``items`` of each scope as ``_item`` (next to ``path``, ``res_idx``,
    ``res_attrs``, ``scope_name`` and ``scope_version``). ``flatten`` maps
    that frame to the signal's columns plus ``_error``, a message for a
    record that does not decode (an int64 field that does not cast). Such
    a record, and a line that is not a request, each become one quarantine row
    (``_quarantine_row``; the line's first 80 characters as its message)
    — the reader counterpart of logs.go:145-154, like the .pb reader."""
    parsed = spark.read.text(path).select(
        F.input_file_name().alias("path"),
        F.col("value"),
        F.from_json("value", schema).alias("r"),
    )
    resources = F.col(f"r.resource{signal}")
    exploded = (
        parsed.where(resources.isNotNull())
        .select("path", F.posexplode(resources).alias("res_idx", "_res"))
        .select(
            "path",
            "res_idx",
            _kv_map(F.col("_res.resource.attributes")).alias("res_attrs"),
            F.explode_outer(f"_res.scope{signal}").alias("_scope"),
        )
        .select(
            "path",
            "res_idx",
            "res_attrs",
            F.col("_scope.scope.name").alias("scope_name"),
            F.col("_scope.scope.version").alias("scope_version"),
            F.explode_outer(f"_scope.{items}").alias("_item"),
        )
    )
    flat = flatten(exploded)
    cols = flat.drop("_error")
    err = F.col("_error")
    good = flat.select(*[
        F.when(err.isNull(), F.col(c)).otherwise(q).alias(c)
        for c, q in zip(cols.columns, _quarantine_row(cols.schema, error_col, err, zeroed))
    ])
    bad = parsed.where(resources.isNull()).select(
        *_quarantine_row(cols.schema, error_col, F.substring("value", 1, 80), zeroed)
    )
    return good.unionByName(bad)


# ---------------------------------------------------------------------------
# logs
# ---------------------------------------------------------------------------

# from_json schema for one ExportLogsServiceRequest (string-typed AnyValue)
OTLP_JSON_LOG_SCHEMA = (
    "resourceLogs array<struct<"
    f"resource:struct<attributes:{_KV}>,"
    "scopeLogs:array<struct<"
    "scope:struct<name:string,version:string>,"
    "logRecords:array<struct<"
    "timeUnixNano:string,severityNumber:int,severityText:string,"
    "body:struct<stringValue:string>,"
    f"attributes:{_KV},"
    "traceId:string,spanId:string>>>>>>"
)


def write_otlp_json_logs(df: DataFrame, path: str, res_attrs_col: str | None = None) -> None:
    """Flat log rows -> OTLP-JSON capture (one request line per resource).

    Expected flat columns (nullable unless noted): ``res_idx`` (grouping
    key, required), optional ``scope_name`` and ``scope_version`` strings
    (records group into one scope per name and version),
    ``time_unix_nano`` long, ``severity_number`` int,
    ``severity_text``, ``body`` string, optional ``attrs``
    map<string,string>, optional ``trace_id``/``span_id`` hex strings,
    optional ``res_attrs_col`` map<string,string> (a resource's first)."""
    cols = set(df.columns)
    rec = F.struct(
        F.col("time_unix_nano").cast("string").alias("timeUnixNano"),
        *( [F.col("severity_number").cast("int").alias("severityNumber")]
           if "severity_number" in cols else [] ),
        *( [F.col("severity_text").alias("severityText")]
           if "severity_text" in cols else [] ),
        F.struct(F.col("body").alias("stringValue")).alias("body"),
        *( [_kv_array(F.col("attrs")).alias("attributes")]
           if "attrs" in cols else [] ),
        *( [F.col("trace_id").alias("traceId")] if "trace_id" in cols else [] ),
        *( [F.col("span_id").alias("spanId")] if "span_id" in cols else [] ),
    )
    has_res_attrs = bool(res_attrs_col) and res_attrs_col in cols
    ra = F.col(res_attrs_col) if has_res_attrs else F.lit(None).cast("map<string,string>")
    keyed = _keyed(df, rec.alias("_r"), ra.alias("_ra"))
    _write_requests(keyed, path, "Logs", "logRecords", F.col("_r"), res_attrs=True)


def read_otlp_json_logs(spark: SparkSession, path: str) -> DataFrame:
    """OTLP-JSON capture -> flat log rows: the read_pb_logs columns this
    codec carries (no ``observed_time_unix_nano``, ``n_res_attrs`` or
    ``n_attrs``), attr key/values as maps. A line that is not a request,
    or a record whose ``timeUnixNano`` is not an int64, yields one
    quarantine row with ``res_idx = -1`` and the error in ``body``."""

    def flatten(exploded):
        r = F.col("_item")
        return exploded.select(
            "path",
            "res_idx",
            "scope_name",
            "scope_version",
            _int64(r["timeUnixNano"]).alias("time_unix_nano"),
            r["severityNumber"].alias("severity_number"),
            r["severityText"].alias("severity_text"),
            r["body"]["stringValue"].alias("body"),
            _kv_map(r["attributes"]).alias("attrs"),
            "res_attrs",
            r["traceId"].alias("trace_id"),
            r["spanId"].alias("span_id"),
            _int64_error(time_unix_nano=r["timeUnixNano"]).alias("_error"),
        )

    return _read_requests(spark, path, OTLP_JSON_LOG_SCHEMA, "Logs", "logRecords",
                          flatten, "body")


# ---------------------------------------------------------------------------
# traces
# ---------------------------------------------------------------------------

# from_json schema for one ExportTraceServiceRequest. protojson notes:
# int64 nanos as strings, ids as hex strings, enums accepted numerically
# (we render SpanKind / StatusCode as ints — protojson parsers accept
# both name and number; numbers keep the schema closed over int columns).
OTLP_JSON_SPAN_SCHEMA = (
    "resourceSpans array<struct<"
    f"resource:struct<attributes:{_KV}>,"
    "scopeSpans:array<struct<"
    "scope:struct<name:string,version:string>,"
    "spans:array<struct<"
    "traceId:string,spanId:string,parentSpanId:string,name:string,kind:int,"
    "startTimeUnixNano:string,endTimeUnixNano:string,"
    "status:struct<code:int>,"
    f"attributes:{_KV},"
    "events:array<struct<timeUnixNano:string,name:string>>,"
    "links:array<struct<traceId:string,spanId:string>>"
    ">>>>>>"
)


def write_otlp_json_spans(df: DataFrame, path: str) -> None:
    """Flat span rows -> OTLP-JSON trace capture (one
    ExportTraceServiceRequest line per resource) — the protojson sibling
    of otlp_pb.encode_export_trace_request, zero Python in the data path.

    Expected flat columns (same surface read_pb_spans emits): ``res_idx``
    required, optional ``scope_name``/``scope_version``;
    ``trace_id``/``span_id``/``parent_span_id`` hex strings,
    ``name``, ``kind`` int, ``start/end_time_unix_nano`` long,
    ``status_code`` int, optional ``attrs`` map<string,string>, optional
    ``events`` array<struct<time_unix_nano,name>>, optional ``links``
    array<struct<trace_id,span_id>>. Per-row nulls are OMITTED from the
    JSON (to_json drops nulls = protojson absent-field convention)."""
    cols = set(df.columns)
    span_fields = [
        F.col("trace_id").alias("traceId"),
        F.col("span_id").alias("spanId"),
    ]
    if "parent_span_id" in cols:
        span_fields.append(F.col("parent_span_id").alias("parentSpanId"))
    span_fields.append(F.col("name").alias("name"))
    if "kind" in cols:
        span_fields.append(F.col("kind").cast("int").alias("kind"))
    span_fields.append(
        F.col("start_time_unix_nano").cast("string").alias("startTimeUnixNano")
    )
    if "end_time_unix_nano" in cols:
        span_fields.append(
            F.col("end_time_unix_nano").cast("string").alias("endTimeUnixNano")
        )
    if "status_code" in cols:
        span_fields.append(
            F.when(
                F.col("status_code").isNotNull(),
                F.struct(F.col("status_code").cast("int").alias("code")),
            ).alias("status")
        )
    if "attrs" in cols:
        span_fields.append(_kv_array(F.col("attrs")).alias("attributes"))
    if "events" in cols:
        span_fields.append(
            F.transform(
                "events",
                lambda e: F.struct(
                    e["time_unix_nano"].cast("string").alias("timeUnixNano"),
                    e["name"].alias("name"),
                ),
            ).alias("events")
        )
    if "links" in cols:
        span_fields.append(
            F.transform(
                "links",
                lambda l: F.struct(
                    l["trace_id"].alias("traceId"), l["span_id"].alias("spanId")
                ),
            ).alias("links")
        )
    keyed = _keyed(df, F.struct(*span_fields).alias("_s"))
    _write_requests(keyed, path, "Spans", "spans", F.col("_s"))


def read_otlp_json_spans(spark: SparkSession, path: str) -> DataFrame:
    """OTLP-JSON trace capture -> flat span rows, SAME surface as
    read_pb_spans (incl. the n_attrs/n_events/n_links convenience counts);
    a malformed line, or a span with a time that is not an int64,
    quarantines as one res_idx=-1 row with the error in ``name``."""
    empty_events = F.array().cast("array<struct<time_unix_nano:long,name:string>>")
    empty_links = F.array().cast("array<struct<trace_id:string,span_id:string>>")

    def flatten(exploded):
        s = F.col("_item")
        bad_event = F.exists(
            s["events"],
            lambda e: e["timeUnixNano"].isNotNull() & _int64(e["timeUnixNano"]).isNull(),
        )
        return exploded.select(
            "path",
            "res_idx",
            "scope_name",
            s["traceId"].alias("trace_id"),
            s["spanId"].alias("span_id"),
            s["parentSpanId"].alias("parent_span_id"),
            s["name"].alias("name"),
            s["kind"].alias("kind"),
            _int64(s["startTimeUnixNano"]).alias("start_time_unix_nano"),
            _int64(s["endTimeUnixNano"]).alias("end_time_unix_nano"),
            s["status"]["code"].alias("status_code"),
            F.coalesce(F.size(s["attributes"]), F.lit(0)).alias("n_attrs"),
            F.coalesce(F.size(s["events"]), F.lit(0)).alias("n_events"),
            F.coalesce(F.size(s["links"]), F.lit(0)).alias("n_links"),
            _kv_map(s["attributes"]).alias("attrs"),
            F.coalesce(
                F.transform(
                    s["events"],
                    lambda e: F.struct(
                        _int64(e["timeUnixNano"]).alias("time_unix_nano"),
                        e["name"].alias("name"),
                    ),
                ),
                empty_events,
            ).alias("events"),
            F.coalesce(
                F.transform(
                    s["links"],
                    lambda l: F.struct(
                        l["traceId"].alias("trace_id"), l["spanId"].alias("span_id")
                    ),
                ),
                empty_links,
            ).alias("links"),
            F.coalesce(
                _int64_error(start_time_unix_nano=s["startTimeUnixNano"],
                             end_time_unix_nano=s["endTimeUnixNano"]),
                F.when(bad_event, F.lit("an event time_unix_nano is not an int64")),
            ).alias("_error"),
        )

    return _read_requests(spark, path, OTLP_JSON_SPAN_SCHEMA, "Spans", "spans",
                          flatten, "name",
                          zeroed=("n_attrs", "n_events", "n_links", "events", "links"))


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

# from_json schema for one ExportMetricsServiceRequest — all five data
# families (gauge / sum / histogram / exponentialHistogram / summary).
# protojson: uint64/int64 scalars (timeUnixNano, count, zeroCount, asInt,
# bucketCounts elements) render as JSON STRINGS; doubles as numbers;
# enums numerically.
_NUM_DP = (
    "struct<startTimeUnixNano:string,timeUnixNano:string,"
    f"asDouble:double,asInt:string,attributes:{_KV}>"
)
_HIST_DP = (
    "struct<startTimeUnixNano:string,timeUnixNano:string,count:string,"
    f"sum:double,bucketCounts:array<string>,explicitBounds:array<double>,attributes:{_KV}>"
)
_EXP_DP = (
    "struct<startTimeUnixNano:string,timeUnixNano:string,count:string,"
    "sum:double,scale:int,zeroCount:string,"
    "positive:struct<offset:int,bucketCounts:array<string>>,"
    "negative:struct<offset:int,bucketCounts:array<string>>,"
    f"attributes:{_KV}>"
)
_SUM_DP = (
    "struct<startTimeUnixNano:string,timeUnixNano:string,count:string,"
    "sum:double,quantileValues:array<struct<quantile:double,value:double>>,"
    f"attributes:{_KV}>"
)
OTLP_JSON_METRIC_SCHEMA = (
    "resourceMetrics array<struct<"
    f"resource:struct<attributes:{_KV}>,"
    "scopeMetrics:array<struct<"
    "scope:struct<name:string,version:string>,"
    "metrics:array<struct<"
    "name:string,unit:string,"
    f"gauge:struct<dataPoints:array<{_NUM_DP}>>,"
    f"sum:struct<aggregationTemporality:int,isMonotonic:boolean,dataPoints:array<{_NUM_DP}>>,"
    f"histogram:struct<aggregationTemporality:int,dataPoints:array<{_HIST_DP}>>,"
    f"exponentialHistogram:struct<aggregationTemporality:int,dataPoints:array<{_EXP_DP}>>,"
    f"summary:struct<dataPoints:array<{_SUM_DP}>>"
    ">>>>>>"
)


# metric_type -> the protojson key of its data oneof, in oneof order
_FAMILY_KEYS = {"gauge": "gauge", "sum": "sum", "histogram": "histogram",
                "exponential_histogram": "exponentialHistogram", "summary": "summary"}
# the data point columns that protojson renders as int64 strings
_METRIC_INT64 = ("start_time_unix_nano", "time_unix_nano", "value_int", "count", "zero_count")


def _metric_dp_fields():
    """The read_pb_metrics columns of one data point (PB_METRIC_SCHEMA
    without the envelope, the metric identity and n_attrs), typed."""
    skip = {"path", "res_idx", "scope_name", "metric_name", "metric_unit",
            "metric_type", "n_attrs"}
    return [f for f in StructType.fromDDL(PB_METRIC_SCHEMA).fields if f.name not in skip]


def _csv_strings(col):
    """'1,0,2' -> ['1','0','2'] (protojson uint64 list = string elements);
    null/empty -> null (field omitted)."""
    return F.split(F.nullif(col, F.lit("")), ",")


def write_otlp_json_metrics(df: DataFrame, path: str) -> None:
    """Flat metric-DP rows -> OTLP-JSON metrics capture (one
    ExportMetricsServiceRequest line per resource), all five families —
    the protojson sibling of otlp_pb.encode_export_metrics_request, zero
    Python. Input = the read_pb_metrics flat surface: ``metric_type`` in
    {gauge,sum,histogram,exponential_histogram,summary} picks the oneof;
    bucket lists arrive as the same CSV strings the .pb reader emits; data
    point columns the frame lacks are null. DPs group into metrics by
    (resource, scope name and version, name, unit, type, temporality,
    monotonicity), and the metrics are the items of the request lines."""
    df = df.withColumns({
        f.name: F.lit(None).cast(f.dataType)
        for f in _metric_dp_fields() if f.name not in df.columns
    })
    dp = F.struct(
        F.col("start_time_unix_nano").cast("string").alias("startTimeUnixNano"),
        F.col("time_unix_nano").cast("string").alias("timeUnixNano"),
        F.col("value_double").alias("asDouble"),
        F.col("value_int").cast("string").alias("asInt"),
        F.col("count").cast("string").alias("count"),
        F.col("sum").alias("sum"),
        _csv_strings(F.col("bucket_counts")).alias("bucketCounts"),
        F.transform(
            F.split(F.nullif(F.col("explicit_bounds"), F.lit("")), ","),
            lambda b: b.cast("double"),
        ).alias("explicitBounds"),
        F.col("scale").alias("scale"),
        F.col("zero_count").cast("string").alias("zeroCount"),
        F.when(
            F.col("positive_offset").isNotNull()
            | F.col("positive_bucket_counts").isNotNull(),
            F.struct(
                F.col("positive_offset").alias("offset"),
                _csv_strings(F.col("positive_bucket_counts")).alias("bucketCounts"),
            ),
        ).alias("positive"),
        F.when(
            F.col("negative_offset").isNotNull()
            | F.col("negative_bucket_counts").isNotNull(),
            F.struct(
                F.col("negative_offset").alias("offset"),
                _csv_strings(F.col("negative_bucket_counts")).alias("bucketCounts"),
            ),
        ).alias("negative"),
        F.transform(
            F.split(F.nullif(F.col("quantiles"), F.lit("")), ","),
            lambda q: F.struct(
                F.split(q, ":")[0].cast("double").alias("quantile"),
                F.split(q, ":")[1].cast("double").alias("value"),
            ),
        ).alias("quantileValues"),
        _kv_array(F.col("attrs")).alias("attributes"),
    )
    per_metric = (
        _keyed(
            df,
            F.col("metric_name").alias("_name"),
            F.coalesce(F.col("metric_unit"), F.lit("")).alias("_unit"),
            F.col("metric_type").alias("_type"),
            F.col("temporality").alias("_temp"),
            F.col("is_monotonic").alias("_mono"),
            dp.alias("_dp"),
        )
        .groupBy(*_SCOPE_KEY, "_name", "_unit", "_type", "_temp", "_mono")
        .agg(F.collect_list("_dp").alias("_dps"))
    )

    def family(mtype):
        fields = [F.col("_temp").alias("aggregationTemporality")] if mtype in _TEMPORAL_TYPES else []
        if mtype == "sum":
            fields.append(F.col("_mono").alias("isMonotonic"))
        return F.when(
            F.col("_type") == mtype, F.struct(*fields, F.col("_dps").alias("dataPoints"))
        ).alias(_FAMILY_KEYS[mtype])

    metric = F.struct(
        F.col("_name").alias("name"),
        F.col("_unit").alias("unit"),
        *[family(mtype) for mtype in _FAMILY_KEYS],
    )
    _write_requests(per_metric, path, "Metrics", "metrics", metric)


def read_otlp_json_metrics(spark: SparkSession, path: str) -> DataFrame:
    """OTLP-JSON metrics capture -> flat DP rows, SAME surface as
    read_pb_metrics (bucket lists as CSV strings, quantiles as 'q:v'
    pairs, attrs as a map; ``n_attrs`` just before ``attrs``). A malformed
    line, or a point with an int64 field that does not cast, quarantines
    as one res_idx=-1 row with the error in ``metric_name``."""
    fields = [f for f in _metric_dp_fields() if f.name != "attrs"]
    m = F.col("_item")

    def points(mtype, **given):
        """The family's data points as flat structs: ``given`` maps columns
        to expressions over the point ``d``, the rest are null. int64
        columns stay protojson strings until ``flatten`` casts them."""
        fam = m[_FAMILY_KEYS[mtype]]
        carried = {}
        if mtype in _TEMPORAL_TYPES:
            carried["temporality"] = fam["aggregationTemporality"]
        if mtype == "sum":
            carried["is_monotonic"] = fam["isMonotonic"]

        def flat(d):
            cols = {"start_time_unix_nano": d["startTimeUnixNano"],
                    "time_unix_nano": d["timeUnixNano"],
                    **carried, **{k: v(d) for k, v in given.items()}}
            return F.struct(
                F.lit(mtype).alias("metric_type"),
                *[cols.get(f.name, F.lit(None).cast(
                    "string" if f.name in _METRIC_INT64 else f.dataType)).alias(f.name)
                  for f in fields],
                F.coalesce(F.size(d["attributes"]), F.lit(0)).alias("n_attrs"),
                _kv_map(d["attributes"]).alias("attrs"),
            )

        return F.coalesce(F.transform(fam["dataPoints"], flat), F.array())

    value = dict(value_double=lambda d: d["asDouble"], value_int=lambda d: d["asInt"])
    stats = dict(count=lambda d: d["count"], sum=lambda d: d["sum"])
    dps = F.concat(
        points("gauge", **value),
        points("sum", **value),
        points("histogram", **stats,
               bucket_counts=lambda d: F.array_join(d["bucketCounts"], ","),
               explicit_bounds=lambda d: F.array_join(
                   F.transform(d["explicitBounds"], lambda b: b.cast("string")), ",")),
        points("exponential_histogram", **stats,
               scale=lambda d: d["scale"],
               zero_count=lambda d: d["zeroCount"],
               positive_offset=lambda d: d["positive"]["offset"],
               positive_bucket_counts=lambda d: F.array_join(d["positive"]["bucketCounts"], ","),
               negative_offset=lambda d: d["negative"]["offset"],
               negative_bucket_counts=lambda d: F.array_join(d["negative"]["bucketCounts"], ",")),
        points("summary", **stats,
               quantiles=lambda d: F.array_join(F.transform(
                   d["quantileValues"],
                   lambda q: F.concat_ws(":", q["quantile"].cast("string"),
                                         q["value"].cast("string"))), ",")),
    )

    def flatten(exploded):
        dp = F.col("_dp")
        return exploded.select(
            "path", "res_idx", "scope_name",
            m["name"].alias("metric_name"),
            m["unit"].alias("metric_unit"),
            F.explode_outer(dps).alias("_dp"),
        ).select(
            "path", "res_idx", "scope_name", "metric_name", "metric_unit",
            dp["metric_type"].alias("metric_type"),
            *[(_int64(dp[f.name]) if f.name in _METRIC_INT64 else dp[f.name]).alias(f.name)
              for f in fields],
            dp["n_attrs"].alias("n_attrs"),
            dp["attrs"].alias("attrs"),
            _int64_error(**{c: dp[c] for c in _METRIC_INT64}).alias("_error"),
        )

    return _read_requests(spark, path, OTLP_JSON_METRIC_SCHEMA, "Metrics", "metrics",
                          flatten, "metric_name")
