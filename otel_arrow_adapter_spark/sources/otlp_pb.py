"""S8 completion: OTLP protobuf (.pb) dataset loader + capture writer.

The reference's dataset loader reads a ``.pb`` file as ONE serialized
``Export{Logs,Trace,Metrics}ServiceRequest`` and flattens Resource >
Scope > item into per-item units
(pkg/benchmark/dataset/real_logs_dataset.go:109-157).

The decoder is a minimal pure-Python protobuf *wire-format* reader
(varint / fixed64 / fixed32 / length-delimited — the whole wire grammar,
public spec; no protobuf package needed) walking the public OTLP field
numbers listed per message below. The envelope walk, attribute maps, field
readers and id checks exist once for all three signals; each signal keeps
only its item decoder and encoder.

Spark plumbing: ``spark.read.format("binaryFile")`` gives (path, content)
rows — one per capture file — and a mapInArrow decoder flattens each
file's request into Arrow records. Parallelism unit = file, exactly the
reference's dataset granularity; no per-row Python beyond the per-FILE
decode, which is the irreducible work. ``write_pb_capture`` (the file
exporter's capture analog, one request file per partition) takes the same
flat row frame the readers emit and the protojson writers take, so
round-trips are testable end-to-end in both codecs from one input.
"""

from __future__ import annotations

import itertools
import os
import shutil
import struct
from typing import Callable, Iterator
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

PB_LOG_SCHEMA = (
    "path string, res_idx int, scope_name string, scope_version string, "
    "time_unix_nano long, observed_time_unix_nano long, "
    "severity_number int, severity_text string, body string, "
    "trace_id string, span_id string, n_res_attrs int, n_attrs int, "
    "res_attrs map<string,string>, attrs map<string,string>"
)


# ---------------------------------------------------------------------------
# wire format primitives (public protobuf encoding spec)
# ---------------------------------------------------------------------------

def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    val = shift = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def _write_varint(val: int) -> bytes:
    """Unsigned base-128 varint. Every varint field written here is
    non-negative on the wire (tags, lengths, OTLP enums, bucket counts,
    zigzag values), so a negative value — which the shift loop would walk
    toward -1 forever — is rejected."""
    if 0 <= val < 0x80:  # one byte: every tag and most lengths
        return bytes((val,))
    if val < 0:
        raise ValueError(f"varint value {val} is negative; these OTLP fields are unsigned")
    out = bytearray()
    while True:
        b = val & 0x7F
        val >>= 7
        if val:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _iter_fields(buf: bytes, i: int, end: int) -> Iterator[tuple[int, int, object]]:
    """Yield (field_no, wire_type, value): varints as int, fixed64/fixed32
    as raw int, length-delimited as a (start, end) span (zero-copy)."""
    while i < end:
        tag = buf[i]
        if tag < 0x80:  # one-byte tag: every field number below 16
            i += 1
        else:
            tag, i = _read_varint(buf, i)
        field, wt = tag >> 3, tag & 7
        if wt == 0:  # varint
            v, i = _read_varint(buf, i)
        elif wt == 1:  # fixed64
            v = struct.unpack_from("<Q", buf, i)[0]
            i += 8
        elif wt == 2:  # length-delimited
            ln, i = _read_varint(buf, i)
            if i + ln > end:
                raise ValueError(
                    f"truncated length-delimited field {field}: "
                    f"need {ln} bytes, have {end - i}"
                )
            v = (i, i + ln)
            i += ln
        elif wt == 5:  # fixed32
            v = struct.unpack_from("<I", buf, i)[0]
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt} (field {field})")
        yield field, wt, v


def _zigzag_decode(v: int) -> int:
    """sint32/sint64 wire value -> signed int (public protobuf zigzag)."""
    return (v >> 1) ^ -(v & 1)


def _zigzag_encode(n: int) -> int:
    # Python ints are arbitrary precision, so n >> 63 works for any sint64
    return (n << 1) ^ (n >> 63)


def _tag(field: int, wt: int) -> bytes:
    return _write_varint((field << 3) | wt)


def _ld(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _write_varint(len(payload)) + payload


def _varint(field: int, v: int | None) -> bytes:
    return b"" if v is None else _tag(field, 0) + _write_varint(v)


def _text(field: int, s: str | None) -> bytes:
    """A non-empty string as field ``field``; empty and None are absent."""
    return _ld(field, s.encode()) if s else b""


def _fixed64(field: int, v: int | float | None, fmt: str = "<Q") -> bytes:
    """``v`` as a fixed64 field: uint64 by default, ``<q`` sfixed64, ``<d`` double."""
    return b"" if v is None else _tag(field, 1) + struct.pack(fmt, v)


# ---------------------------------------------------------------------------
# field readers: each wire value -> column value, range-checked against the
# column type so an out-of-range value quarantines its file (a ValueError
# inside the reader's try) instead of failing the Arrow transfer
# ---------------------------------------------------------------------------

def _str(buf: bytes, span: tuple[int, int]) -> str:
    return buf[span[0]:span[1]].decode("utf-8", "replace")


def _hex(buf: bytes, span: tuple[int, int]) -> str:
    return buf[span[0]:span[1]].hex()


def _f64(v: int) -> float:
    """fixed64 bits -> double."""
    return struct.unpack("<d", struct.pack("<Q", v))[0]


_INT32, _INT64 = 1 << 31, 1 << 63


def _fits(v: int, limit: int = _INT64) -> int:
    """v, if it fits a signed column holding [-limit, limit) (long by default)."""
    if -limit <= v < limit:
        return v
    raise ValueError(f"{v} does not fit a {limit.bit_length()}-bit column")


def _any_value(buf: bytes, span: tuple[int, int]) -> str | None:
    for f, _, v in _iter_fields(buf, *span):
        if f == 1:  # string_value
            return _str(buf, v)
        if f == 2:  # bool_value
            return "true" if v else "false"
        if f == 3:  # int_value (sint not used by OTLP here)
            return str(v)
        if f == 4:  # double_value (fixed64 bits)
            return repr(_f64(v))
        if f == 7:  # bytes_value
            return _hex(buf, v)
    return None


def _attr_map(buf: bytes, spans: list[tuple[int, int]]) -> dict:
    """KeyValue spans -> {key: AnyValue rendered as a string}. A KeyValue
    without a key adds nothing to the map; item rows still count it in
    ``n_attrs`` (``len(spans)``)."""
    attrs: dict = {}
    for span in spans:
        key = val = None
        for f, _, v in _iter_fields(buf, *span):
            if f == 1:
                key = _str(buf, v)
            elif f == 2:
                val = _any_value(buf, v)
        if key is not None:
            attrs[key] = val
    return attrs


# ---------------------------------------------------------------------------
# the envelope shared by all three signals (public opentelemetry-proto):
#   Export{Logs,Trace,Metrics}ServiceRequest: resource_{logs,spans,metrics} = 1
#   Resource{Logs,Spans,Metrics}: resource = 1, scope_{logs,spans,metrics} = 2
#   Resource: attributes = 1
#   Scope{Logs,Spans,Metrics}: scope = 1, log_records / spans / metrics = 2
#   InstrumentationScope: name = 1, version = 2
#   KeyValue: key = 1, value = 2;  AnyValue: string=1, bool=2, int=3,
#   double=4, bytes=7
# ---------------------------------------------------------------------------

def _walk_envelope(data: bytes) -> Iterator[tuple]:
    """Resource > Scope > item walk of one request: yields
    ``(res_idx, res_attrs, scope_name, scope_version, item span)`` per item
    (a log record, a span or a metric), in wire order."""
    for res_idx, (_, _, span) in enumerate(
        f for f in _iter_fields(data, 0, len(data)) if f[0] == 1
    ):
        res_attrs: dict = {}
        scopes = []
        for f, _, v in _iter_fields(data, *span):
            if f == 1:  # resource
                res_attrs = _attr_map(data, [rv for rf, _, rv in _iter_fields(data, *v) if rf == 1])
            elif f == 2:
                scopes.append(v)
        for scope_span in scopes:
            name = version = None
            items = []
            for f, _, v in _iter_fields(data, *scope_span):
                if f == 1:  # scope
                    for sf, _, sv in _iter_fields(data, *v):
                        if sf == 1:
                            name = _str(data, sv)
                        elif sf == 2:
                            version = _str(data, sv)
                elif f == 2:
                    items.append(v)
            for item in items:
                yield res_idx, res_attrs, name, version, item


def _attrs(field: int, attrs) -> bytes:
    """A map as repeated KeyValue ``field`` (values as string AnyValues).
    ``attrs`` is a dict or, as Arrow hands a map column over, a list of
    (key, value) pairs."""
    if not attrs:
        return b""
    return b"".join(
        _ld(field, _ld(1, k.encode()) + _ld(2, _ld(1, str(v).encode())))
        for k, v in dict(attrs).items()
    )


def _id(r: dict, key: str, field: int, nbytes: int) -> bytes:
    """The hex id ``r[key]`` as bytes ``field``, empty when absent. The
    ID-validation contract (logs.go:145-154 family): error-not-crash is the
    reader's job, the writer refuses to fabricate invalid frames."""
    if not r.get(key):
        return b""
    raw = bytes.fromhex(r[key])
    if len(raw) != nbytes:
        raise ValueError(f"{key} must be {nbytes} bytes, got {len(raw)}")
    return _ld(field, raw)


def _encode_request(records: list[dict], items: Callable[[list[dict]], Iterator[bytes]]) -> bytes:
    """Flat records -> Export*ServiceRequest bytes. Records group by
    ``res_idx`` (ascending) into one Resource* each, whose attributes are
    its first record's ``res_attrs``. Within a resource, each run of
    consecutive records with one scope (name, version) becomes one Scope*
    holding the item messages ``items`` builds from the run, so every
    record keeps its scope and decodes in input order."""
    by_res: dict[int, list[dict]] = {}
    for r in records:
        by_res.setdefault(r.get("res_idx", 0), []).append(r)
    out = bytearray()
    for res_idx in sorted(by_res):
        recs = by_res[res_idx]
        res = _attrs(1, recs[0].get("res_attrs"))
        body = bytearray(_ld(1, res) if res else b"")
        for (name, version), run in itertools.groupby(
            recs, lambda r: (r.get("scope_name") or None, r.get("scope_version") or None)
        ):
            scope = _text(1, name) + _text(2, version)
            body += _ld(2, (_ld(1, scope) if scope else b"") + b"".join(
                _ld(2, item) for item in items(list(run))
            ))
        out += _ld(1, bytes(body))
    return bytes(out)


# ---------------------------------------------------------------------------
# OTLP logs (public logs.proto):
#   LogRecord: time_unix_nano = 1 (fixed64), severity_number = 2,
#              severity_text = 3, body = 5, attributes = 6, trace_id = 9,
#              span_id = 10, observed_time_unix_nano = 11 (fixed64)
# ---------------------------------------------------------------------------

def decode_export_logs_request(data: bytes, path: str = "") -> list[dict]:
    """ExportLogsServiceRequest bytes -> flat log-record dicts (the
    reference's logUnit flattening, real_logs_dataset.go:142-152)."""
    rows: list[dict] = []
    for res_idx, res_attrs, scope_name, scope_version, span in _walk_envelope(data):
        row = {
            "path": path, "res_idx": res_idx, "scope_name": scope_name,
            "scope_version": scope_version, "time_unix_nano": None,
            "observed_time_unix_nano": None, "severity_number": None,
            "severity_text": None, "body": None, "trace_id": None, "span_id": None,
            "n_res_attrs": len(res_attrs), "n_attrs": 0, "res_attrs": res_attrs,
            "attrs": {},
        }
        attrs = []
        for f, _, v in _iter_fields(data, *span):
            if f == 1:
                row["time_unix_nano"] = _fits(v)
            elif f == 2:
                row["severity_number"] = _fits(v, _INT32)
            elif f == 3:
                row["severity_text"] = _str(data, v)
            elif f == 5:
                row["body"] = _any_value(data, v)
            elif f == 6:
                attrs.append(v)
            elif f == 9:
                row["trace_id"] = _hex(data, v)
            elif f == 10:
                row["span_id"] = _hex(data, v)
            elif f == 11:
                row["observed_time_unix_nano"] = _fits(v)
        if attrs:
            row["n_attrs"], row["attrs"] = len(attrs), _attr_map(data, attrs)
        rows.append(row)
    return rows


def _log_records(recs: list[dict]) -> Iterator[bytes]:
    for r in recs:
        yield (
            _fixed64(1, r.get("time_unix_nano"))
            + _varint(2, r.get("severity_number"))
            + _text(3, r.get("severity_text"))
            + (_ld(5, _ld(1, str(r["body"]).encode())) if r.get("body") is not None else b"")
            + _attrs(6, r.get("attrs"))
            + _id(r, "trace_id", 9, 16)
            + _id(r, "span_id", 10, 8)
            + _fixed64(11, r.get("observed_time_unix_nano"))
        )


def encode_export_logs_request(records: list[dict]) -> bytes:
    """Flat log dicts -> ExportLogsServiceRequest bytes. Minimal but real
    wire format: one ResourceLogs per res_idx, one ScopeLogs per scope.
    trace_id must be 16 bytes and span_id 8 when present."""
    return _encode_request(records, _log_records)


# ---------------------------------------------------------------------------
# OTLP traces (real_trace_dataset.go:118-133 loads the same single-request
# .pb shape; public trace.proto field numbers:
#   Span: trace_id=1, span_id=2, parent_span_id=4, name=5, kind=6,
#         start_time_unix_nano=7 (fixed64), end_time_unix_nano=8 (fixed64),
#         attributes=9, events=11 (time_unix_nano=1, name=2),
#         links=13 (trace_id=1, span_id=2), status=15 (code=3)
# ---------------------------------------------------------------------------

PB_SPAN_SCHEMA = (
    "path string, res_idx int, scope_name string, trace_id string, "
    "span_id string, parent_span_id string, name string, kind int, "
    "start_time_unix_nano long, end_time_unix_nano long, "
    "status_code int, n_attrs int, n_events int, n_links int, "
    "attrs map<string,string>, "
    "events array<struct<time_unix_nano:long,name:string>>, "
    "links array<struct<trace_id:string,span_id:string>>"
)


def decode_export_trace_request(data: bytes, path: str = "") -> list[dict]:
    """ExportTraceServiceRequest bytes -> flat span dicts (the reference's
    span flattening, real_trace_dataset.go:148-160)."""
    rows: list[dict] = []
    for res_idx, _, scope_name, _, span in _walk_envelope(data):
        row = {
            "path": path, "res_idx": res_idx, "scope_name": scope_name,
            "trace_id": None, "span_id": None, "parent_span_id": None,
            "name": None, "kind": None, "start_time_unix_nano": None,
            "end_time_unix_nano": None, "status_code": None, "n_attrs": 0,
            "n_events": 0, "n_links": 0, "attrs": {}, "events": [], "links": [],
        }
        attrs = []
        for f, _, v in _iter_fields(data, *span):
            if f == 1:
                row["trace_id"] = _hex(data, v)
            elif f == 2:
                row["span_id"] = _hex(data, v)
            elif f == 4:
                row["parent_span_id"] = _hex(data, v)
            elif f == 5:
                row["name"] = _str(data, v)
            elif f == 6:
                row["kind"] = _fits(v, _INT32)
            elif f == 7:
                row["start_time_unix_nano"] = _fits(v)
            elif f == 8:
                row["end_time_unix_nano"] = _fits(v)
            elif f == 9:
                attrs.append(v)
            elif f == 11:
                ev: dict = {"time_unix_nano": None, "name": None}
                for ef, _, ev_v in _iter_fields(data, *v):
                    if ef == 1:
                        ev["time_unix_nano"] = _fits(ev_v)
                    elif ef == 2:
                        ev["name"] = _str(data, ev_v)
                row["events"].append(ev)
            elif f == 13:
                lk: dict = {"trace_id": None, "span_id": None}
                for lf, _, lv in _iter_fields(data, *v):
                    if lf in (1, 2):
                        lk["trace_id" if lf == 1 else "span_id"] = _hex(data, lv)
                row["links"].append(lk)
            elif f == 15:
                for sf, _, sv in _iter_fields(data, *v):
                    if sf == 3:
                        row["status_code"] = _fits(sv, _INT32)
        if attrs:
            row["n_attrs"], row["attrs"] = len(attrs), _attr_map(data, attrs)
        row["n_events"], row["n_links"] = len(row["events"]), len(row["links"])
        rows.append(row)
    return rows


def _spans(recs: list[dict]) -> Iterator[bytes]:
    for r in recs:
        yield (
            _id(r, "trace_id", 1, 16)
            + _id(r, "span_id", 2, 8)
            + _id(r, "parent_span_id", 4, 8)
            + _text(5, r.get("name"))
            + _varint(6, r.get("kind"))
            + _fixed64(7, r.get("start_time_unix_nano"))
            + _fixed64(8, r.get("end_time_unix_nano"))
            + _attrs(9, r.get("attrs"))
            + b"".join(
                _ld(11, _fixed64(1, ev.get("time_unix_nano")) + _text(2, ev.get("name")))
                for ev in r.get("events") or []
            )
            + b"".join(
                _ld(13, _id(ln, "trace_id", 1, 16) + _id(ln, "span_id", 2, 8))
                for ln in r.get("links") or []
            )
            + (_ld(15, _varint(3, r["status_code"]))
               if r.get("status_code") is not None else b"")
        )


def encode_export_trace_request(spans: list[dict]) -> bytes:
    """Flat span dicts -> ExportTraceServiceRequest bytes. trace_id must be
    16 bytes and span ids 8 when present."""
    return _encode_request(spans, _spans)


# ---------------------------------------------------------------------------
# OTLP metrics (real_metrics_dataset.go loads the same single-request .pb
# shape; public metrics.proto field numbers:
#   Metric: name=1, description=2, unit=3,
#           gauge=5 / sum=7 / histogram=9 / exponential_histogram=10 /
#           summary=11 (the data oneof)
#   Gauge/Sum/Histogram: data_points=1; Sum: temporality=2, is_monotonic=3
#   NumberDataPoint: start=2 (fixed64), time=3 (fixed64),
#                    as_double=4 (fixed64 double), as_int=6 (sfixed64),
#                    attributes=7
#   HistogramDataPoint: start=2, time=3, count=4 (fixed64), sum=5 (double),
#                    bucket_counts=6 (packed fixed64),
#                    explicit_bounds=7 (packed doubles), attributes=9
#   ExponentialHistogramDataPoint: attributes=1, start=2, time=3,
#                    count=4 (fixed64), sum=5 (double), scale=6 (sint32),
#                    zero_count=7 (fixed64), positive=8 / negative=9
#                    (Buckets: offset=1 sint32, bucket_counts=2 packed uint64)
#   SummaryDataPoint: start=2, time=3, count=4 (fixed64), sum=5 (double),
#                    quantile_values=6 (quantile=1, value=2 doubles),
#                    attributes=7
# The reference transports the same offset-bearing DataPointBuckets on every
# ExpHistogramDP (pkg/otel/metrics/arrow/ehistogram_dp.go:58-62).
# ---------------------------------------------------------------------------

PB_METRIC_SCHEMA = (
    "path string, res_idx int, scope_name string, metric_name string, "
    "metric_unit string, metric_type string, temporality int, "
    "is_monotonic boolean, start_time_unix_nano long, time_unix_nano long, "
    "value_double double, value_int long, count long, sum double, "
    "bucket_counts string, explicit_bounds string, n_attrs int, "
    "scale int, zero_count long, positive_offset int, "
    "positive_bucket_counts string, negative_offset int, "
    "negative_bucket_counts string, quantiles string, "
    "attrs map<string,string>"
)
_METRIC_TYPES = {5: "gauge", 7: "sum", 9: "histogram",
                 10: "exponential_histogram", 11: "summary"}
_METRIC_FIELDS = {v: k for k, v in _METRIC_TYPES.items()}
_NUMBER_TYPES = ("gauge", "sum")
_TEMPORAL_TYPES = ("sum", "histogram", "exponential_histogram")
# the data point field that carries attributes, per family
_DP_ATTRS = {"gauge": 7, "sum": 7, "histogram": 9, "exponential_histogram": 1,
             "summary": 7}


def _decode_number_dp(data: bytes, span: tuple[int, int], row: dict) -> list:
    """NumberDataPoint into ``row``; returns its attribute spans."""
    attrs = []
    for f, _, v in _iter_fields(data, *span):
        if f == 2:
            row["start_time_unix_nano"] = _fits(v)
        elif f == 3:
            row["time_unix_nano"] = _fits(v)
        elif f == 4:
            row["value_double"] = _f64(v)
        elif f == 6:  # sfixed64
            row["value_int"] = struct.unpack("<q", struct.pack("<Q", v))[0]
        elif f == 7:
            attrs.append(v)
    return attrs


def _decode_hist_dp(data: bytes, span: tuple[int, int], row: dict) -> list:
    """HistogramDataPoint into ``row``; returns its attribute spans."""
    attrs = []
    for f, wt, v in _iter_fields(data, *span):
        if f == 2:
            row["start_time_unix_nano"] = _fits(v)
        elif f == 3:
            row["time_unix_nano"] = _fits(v)
        elif f == 4:
            row["count"] = _fits(v)
        elif f == 5:
            row["sum"] = _f64(v)
        elif f == 6 and wt == 2:  # packed fixed64
            vals = struct.unpack_from(f"<{(v[1] - v[0]) // 8}Q", data, v[0])
            row["bucket_counts"] = ",".join(str(x) for x in vals)
        elif f == 7 and wt == 2:  # packed doubles
            vals = struct.unpack_from(f"<{(v[1] - v[0]) // 8}d", data, v[0])
            row["explicit_bounds"] = ",".join(repr(x) for x in vals)
        elif f == 9:
            attrs.append(v)
    return attrs


def _decode_exp_buckets(data: bytes, span: tuple[int, int]) -> tuple[int, str]:
    """ExponentialHistogramDataPoint.Buckets: offset=1 (sint32 zigzag),
    bucket_counts=2 (repeated uint64 — packed or unpacked) as a CSV."""
    offset, counts = 0, []
    for f, wt, v in _iter_fields(data, *span):
        if f == 1:
            offset = _fits(_zigzag_decode(v), _INT32)
        elif f == 2:
            if wt == 2:  # packed varints
                i = v[0]
                while i < v[1]:
                    c, i = _read_varint(data, i)
                    counts.append(c)
            else:
                counts.append(v)
    return offset, ",".join(str(c) for c in counts)


def _decode_exp_hist_dp(data: bytes, span: tuple[int, int], row: dict) -> list:
    """ExponentialHistogramDataPoint into ``row``; returns its attribute spans."""
    attrs = []
    for f, _, v in _iter_fields(data, *span):
        if f == 1:
            attrs.append(v)
        elif f == 2:
            row["start_time_unix_nano"] = _fits(v)
        elif f == 3:
            row["time_unix_nano"] = _fits(v)
        elif f == 4:
            row["count"] = _fits(v)
        elif f == 5:
            row["sum"] = _f64(v)
        elif f == 6:
            row["scale"] = _fits(_zigzag_decode(v), _INT32)
        elif f == 7:
            row["zero_count"] = _fits(v)
        elif f in (8, 9):
            side = "positive" if f == 8 else "negative"
            row[f"{side}_offset"], row[f"{side}_bucket_counts"] = _decode_exp_buckets(data, v)
    return attrs


def _decode_summary_dp(data: bytes, span: tuple[int, int], row: dict) -> list:
    """SummaryDataPoint into ``row``; returns its attribute spans. Quantiles
    render as 'q:value' pairs (repr doubles, lossless)."""
    attrs, quantiles = [], []
    for f, _, v in _iter_fields(data, *span):
        if f == 2:
            row["start_time_unix_nano"] = _fits(v)
        elif f == 3:
            row["time_unix_nano"] = _fits(v)
        elif f == 4:
            row["count"] = _fits(v)
        elif f == 5:
            row["sum"] = _f64(v)
        elif f == 6:
            q = qval = None
            for qf, _, qv in _iter_fields(data, *v):
                if qf == 1:
                    q = _f64(qv)
                elif qf == 2:
                    qval = _f64(qv)
            quantiles.append(f"{q!r}:{qval!r}")
        elif f == 7:
            attrs.append(v)
    if quantiles:
        row["quantiles"] = ",".join(quantiles)
    return attrs


_DP_DECODERS = {
    "gauge": _decode_number_dp,
    "sum": _decode_number_dp,
    "histogram": _decode_hist_dp,
    "exponential_histogram": _decode_exp_hist_dp,
    "summary": _decode_summary_dp,
}


def decode_export_metrics_request(data: bytes, path: str = "") -> list[dict]:
    """ExportMetricsServiceRequest bytes -> flat data-point dicts (the
    reference's per-DP flattening, real_metrics_dataset.go)."""
    rows: list[dict] = []
    for res_idx, _, scope_name, _, span in _walk_envelope(data):
        name = unit = None
        families = []
        for f, _, v in _iter_fields(data, *span):
            if f == 1:
                name = _str(data, v)
            elif f == 3:
                unit = _str(data, v)
            elif f in _METRIC_TYPES:
                families.append((_METRIC_TYPES[f], v))
        for mtype, fam_span in families:
            temporality = monotonic = None
            dps = []
            for f, _, v in _iter_fields(data, *fam_span):
                if f == 1:
                    dps.append(v)
                elif f == 2 and mtype in _TEMPORAL_TYPES:
                    temporality = _fits(v, _INT32)
                elif f == 3 and mtype == "sum":
                    monotonic = bool(v)
            decode_dp = _DP_DECODERS[mtype]
            for dp in dps:
                row = {
                    "path": path, "res_idx": res_idx, "scope_name": scope_name,
                    "metric_name": name, "metric_unit": unit, "metric_type": mtype,
                    "temporality": temporality, "is_monotonic": monotonic,
                    "start_time_unix_nano": None, "time_unix_nano": None,
                    "value_double": None, "value_int": None, "count": None,
                    "sum": None, "bucket_counts": None, "explicit_bounds": None,
                    "n_attrs": 0, "scale": None, "zero_count": None,
                    "positive_offset": None, "positive_bucket_counts": None,
                    "negative_offset": None, "negative_bucket_counts": None,
                    "quantiles": None, "attrs": {},
                }
                attrs = decode_dp(data, dp, row)
                if attrs:
                    row["n_attrs"], row["attrs"] = len(attrs), _attr_map(data, attrs)
                rows.append(row)
    return rows


def _csv(value, cast=int) -> list:
    return [cast(x) for x in str(value).split(",")]


def _data_point(p: dict, mtype: str) -> bytes:
    """One flat point -> the family's data point message. Every family
    frames start=2 and time=3, Number points as_double=4 / as_int=6, the
    others count=4 and sum=5, then each family's own fields; attributes go
    last except in exp-histogram points, where they come first."""
    dp = bytearray(_fixed64(2, p.get("start_time_unix_nano"))
                   + _fixed64(3, p.get("time_unix_nano")))
    if mtype == "exponential_histogram":
        dp += _attrs(1, p.get("attrs"))
    if mtype in _NUMBER_TYPES:
        dp += _fixed64(4, p.get("value_double"), "<d") + _fixed64(6, p.get("value_int"), "<q")
    else:
        dp += _fixed64(4, p.get("count")) + _fixed64(5, p.get("sum"), "<d")
    if mtype == "histogram":
        if p.get("bucket_counts"):
            vals = _csv(p["bucket_counts"])
            dp += _ld(6, struct.pack(f"<{len(vals)}Q", *vals))
        if p.get("explicit_bounds"):
            vals = _csv(p["explicit_bounds"], float)
            dp += _ld(7, struct.pack(f"<{len(vals)}d", *vals))
    elif mtype == "exponential_histogram":
        if p.get("scale") is not None:
            dp += _varint(6, _zigzag_encode(p["scale"]))
        dp += _fixed64(7, p.get("zero_count"))
        for side, field in (("positive", 8), ("negative", 9)):
            counts = p.get(f"{side}_bucket_counts")
            off = p.get(f"{side}_offset")
            if counts is None and off is None:
                continue
            dp += _ld(field, (b"" if off is None else _varint(1, _zigzag_encode(off)))
                      + (_ld(2, b"".join(_write_varint(c) for c in _csv(counts)))
                         if counts else b""))
    elif mtype == "summary":
        for pair in str(p.get("quantiles") or "").split(","):
            if pair:
                q, qval = pair.split(":")
                dp += _ld(6, _fixed64(1, float(q), "<d") + _fixed64(2, float(qval), "<d"))
    if mtype != "exponential_histogram":
        dp += _attrs(_DP_ATTRS[mtype], p.get("attrs"))
    return bytes(dp)


def _metrics(points: list[dict]) -> Iterator[bytes]:
    """One scope's points -> Metric messages, one per metric identity:
    name, unit, type, and the temporality / monotonic flag the type
    carries (the identity write_otlp_json_metrics groups by)."""
    by_metric: dict[tuple, list[dict]] = {}
    for p in points:
        mtype = p.get("metric_type", "gauge")
        by_metric.setdefault((
            p.get("metric_name"), p.get("metric_unit") or None, mtype,
            p.get("temporality") if mtype in _TEMPORAL_TYPES else None,
            mtype == "sum" and bool(p.get("is_monotonic")),
        ), []).append(p)
    for (name, unit, mtype, temporality, monotonic), dps in by_metric.items():
        payload = (
            b"".join(_ld(1, _data_point(p, mtype)) for p in dps)
            + _varint(2, temporality)
            + (_varint(3, 1) if monotonic else b"")
        )
        yield _text(1, name) + _text(3, unit) + _ld(_METRIC_FIELDS[mtype], payload)


def encode_export_metrics_request(points: list[dict]) -> bytes:
    """Flat DP dicts -> ExportMetricsServiceRequest bytes. Points group by
    resource, scope and metric identity; metric_type picks the data oneof
    (gauge, sum, histogram, exponential_histogram, summary)."""
    return _encode_request(points, _metrics)


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

def write_pb_capture(
    df: DataFrame, out_dir: str, encode: Callable[[list[dict]], bytes]
) -> int:
    """Distributed .pb capture writer (the file exporter's analog): one
    mapInArrow task per partition hands its rows to ``encode`` as the
    records Arrow converts them to (nulls as None, structs as dicts, maps
    as (key, value) pairs) and writes ``encode(records)`` as ONE request
    file. ``df`` is the flat frame the matching ``read_pb_*`` reader emits
    and the protojson writers take. ``out_dir`` is cleared first, and
    files are named by PARTITION ID, not uuid: a retried or speculatively
    re-executed task overwrites its own file instead of duplicating the
    partition's records. Workers write to local paths with ``open()``
    (driver-local tmp in local mode; shared storage on a cluster), so
    ``out_dir`` is a bare path or a ``file://`` URI; any other scheme
    raises ``ValueError``. Returns the number of records written."""
    url = urlparse(out_dir)
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        out_dir = url.path
    elif url.scheme:
        raise ValueError(f"write_pb_capture writes local files; got {out_dir!r}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def write(batches):
        import pyarrow as pa  # noqa: PLC0415 — worker-side import
        from pyspark import TaskContext  # noqa: PLC0415

        recs = [r for batch in batches for r in batch.to_pylist()]
        if recs:
            pid = TaskContext.get().partitionId()
            with open(os.path.join(out_dir, f"part-{pid:05d}.pb"), "wb") as f:
                f.write(encode(recs))
        yield pa.RecordBatch.from_pydict({"n": pa.array([len(recs)], pa.int64())})

    return df.mapInArrow(write, "n long").agg(F.sum("n")).first()[0] or 0


def _read_pb(
    spark: SparkSession,
    path: str,
    decode_request: Callable[[bytes, str], list[dict]],
    schema: str,
    error_row: dict,
    error_col: str,
) -> DataFrame:
    """binaryFile scan (one row per capture file, Spark splits files across
    tasks) -> mapInArrow decode into Arrow records of ``schema``. A
    malformed file yields one path-tagged quarantine row (``res_idx`` -1,
    the error text in ``error_col``, the rest of ``error_row``) —
    error-not-crash, the reader counterpart of logs.go:145-154."""
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))

    def decode(batches):
        import pyarrow as pa  # noqa: PLC0415 — worker-side import

        for batch in batches:
            rows: list[dict] = []
            paths = batch.column("path").to_pylist()
            for path_, content in zip(paths, batch.column("content").to_pylist()):
                try:
                    rows.extend(decode_request(content, path_))
                except Exception as e:  # noqa: BLE001 — quarantine, don't crash
                    rows.append({"path": path_, "res_idx": -1,
                                 error_col: f"__decode_error__: {e}", **error_row})
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    binary = spark.read.format("binaryFile").option("pathGlobFilter", "*.pb").load(path)
    return binary.select("path", "content").mapInArrow(decode, schema)


def read_pb_metrics(spark: SparkSession, path: str) -> DataFrame:
    """Distributed metrics-capture load (one ExportMetricsServiceRequest
    per file; decode errors quarantine with the error in ``metric_name``)."""
    return _read_pb(spark, path, decode_export_metrics_request, PB_METRIC_SCHEMA,
                    {"n_attrs": 0, "attrs": {}}, "metric_name")


def read_pb_logs(spark: SparkSession, path: str) -> DataFrame:
    """Distributed .pb dataset load (one ExportLogsServiceRequest per
    file). Malformed files yield zero rows with the error surfaced in the
    ``body`` of a single path-tagged quarantine row."""
    return _read_pb(spark, path, decode_export_logs_request, PB_LOG_SCHEMA,
                    {"n_res_attrs": 0, "n_attrs": 0, "res_attrs": {}, "attrs": {}}, "body")


def read_pb_spans(spark: SparkSession, path: str) -> DataFrame:
    """Distributed trace-capture load (one ExportTraceServiceRequest per
    file; decode errors quarantine with the error in ``name``)."""
    return _read_pb(spark, path, decode_export_trace_request, PB_SPAN_SCHEMA,
                    {"n_attrs": 0, "n_events": 0, "n_links": 0, "attrs": {},
                     "events": [], "links": []}, "name")
