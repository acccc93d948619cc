"""S8 completion: OTLP protobuf (.pb) dataset loader + capture writer.

The reference's dataset loader reads a ``.pb`` file as ONE serialized
``ExportLogsServiceRequest`` and flattens ResourceLogs > ScopeLogs >
LogRecord into per-record units
(/root/reference/pkg/benchmark/dataset/real_logs_dataset.go:109-157).

This sandbox image has no protobuf package, so the decoder is a minimal
pure-Python protobuf *wire-format* reader (varint / fixed64 / fixed32 /
length-delimited — the whole wire grammar, public spec) walking the public
OTLP field numbers (opentelemetry-proto logs.proto / common.proto):

  ExportLogsServiceRequest: resource_logs = 1
  ResourceLogs:  resource = 1, scope_logs = 2
  Resource:      attributes = 1
  ScopeLogs:     scope = 1, log_records = 2
  InstrumentationScope: name = 1, version = 2
  LogRecord:     time_unix_nano = 1 (fixed64), severity_number = 2,
                 severity_text = 3, body = 5, attributes = 6,
                 trace_id = 9, span_id = 10,
                 observed_time_unix_nano = 11 (fixed64)
  KeyValue:      key = 1, value = 2
  AnyValue:      string=1, bool=2, int=3, double=4, bytes=7

Spark plumbing: ``spark.read.format("binaryFile")`` gives (path, content)
rows — one per capture file — and a mapInPandas decoder flattens each
file's request into log-record rows. Parallelism unit = file, exactly the
reference's dataset granularity; no per-row Python beyond the per-FILE
decode, which is the irreducible work. Encoders plus ``write_pb_capture``
(the file exporter's capture analog, one request file per partition) make
round-trips testable end-to-end.
"""

from __future__ import annotations

import os
import shutil
import struct
from typing import Callable, Iterator

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
    as raw int, length-delimited as memoryview span (zero-copy)."""
    while i < end:
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


# ---------------------------------------------------------------------------
# OTLP logs decode (field numbers from public opentelemetry-proto)
# ---------------------------------------------------------------------------

def _decode_any_value(buf: bytes, lo: int, hi: int) -> str | None:
    for f, _, v in _iter_fields(buf, lo, hi):
        if f == 1:  # string_value
            return bytes(buf[v[0]:v[1]]).decode("utf-8", "replace")
        if f == 2:  # bool_value
            return "true" if v else "false"
        if f == 3:  # int_value (sint not used by OTLP here)
            return str(v)
        if f == 4:  # double_value (fixed64 bits)
            return repr(struct.unpack("<d", struct.pack("<Q", v))[0])
        if f == 7:  # bytes_value
            return bytes(buf[v[0]:v[1]]).hex()
    return None


def _decode_kv(buf: bytes, lo: int, hi: int) -> tuple[str | None, str | None]:
    """One KeyValue message -> (key, AnyValue rendered as string)."""
    key = val = None
    for f, _, v in _iter_fields(buf, lo, hi):
        if f == 1:
            key = bytes(buf[v[0]:v[1]]).decode("utf-8", "replace")
        elif f == 2:
            val = _decode_any_value(buf, v[0], v[1])
    return key, val


def decode_export_logs_request(data: bytes, path: str = "") -> list[dict]:
    """ExportLogsServiceRequest bytes -> flat log-record dicts (the
    reference's logUnit flattening, real_logs_dataset.go:142-152)."""
    rows: list[dict] = []
    for res_idx, (f_rl, _, span_rl) in enumerate(
        f for f in _iter_fields(data, 0, len(data)) if f[0] == 1
    ):
        res_attrs: dict[str, str | None] = {}
        scopes: list[tuple[int, int]] = []
        for f, _, v in _iter_fields(data, span_rl[0], span_rl[1]):
            if f == 1:  # resource
                for rf, _, rv in _iter_fields(data, v[0], v[1]):
                    if rf == 1:
                        k, av = _decode_kv(data, rv[0], rv[1])
                        if k is not None:
                            res_attrs[k] = av
            elif f == 2:  # scope_logs
                scopes.append(v)
        for s_lo, s_hi in scopes:
            scope_name = scope_version = None
            for f, _, v in _iter_fields(data, s_lo, s_hi):
                if f == 1:  # scope
                    for sf, _, sv in _iter_fields(data, v[0], v[1]):
                        if sf == 1:
                            scope_name = bytes(data[sv[0]:sv[1]]).decode("utf-8", "replace")
                        elif sf == 2:
                            scope_version = bytes(data[sv[0]:sv[1]]).decode("utf-8", "replace")
            for f, _, v in _iter_fields(data, s_lo, s_hi):
                if f != 2:  # log_records
                    continue
                row = {
                    "path": path,
                    "res_idx": res_idx,
                    "scope_name": scope_name,
                    "scope_version": scope_version,
                    "time_unix_nano": None,
                    "observed_time_unix_nano": None,
                    "severity_number": None,
                    "severity_text": None,
                    "body": None,
                    "trace_id": None,
                    "span_id": None,
                    "n_res_attrs": len(res_attrs),
                    "n_attrs": 0,
                    "res_attrs": res_attrs,
                    "attrs": {},
                }
                for lf, _, lv in _iter_fields(data, v[0], v[1]):
                    if lf == 1:
                        row["time_unix_nano"] = lv
                    elif lf == 2:
                        row["severity_number"] = lv
                    elif lf == 3:
                        row["severity_text"] = bytes(data[lv[0]:lv[1]]).decode("utf-8", "replace")
                    elif lf == 5:
                        row["body"] = _decode_any_value(data, lv[0], lv[1])
                    elif lf == 6:
                        row["n_attrs"] += 1
                        k, av = _decode_kv(data, lv[0], lv[1])
                        if k is not None:
                            row["attrs"][k] = av
                    elif lf == 9:
                        row["trace_id"] = bytes(data[lv[0]:lv[1]]).hex()
                    elif lf == 10:
                        row["span_id"] = bytes(data[lv[0]:lv[1]]).hex()
                    elif lf == 11:
                        row["observed_time_unix_nano"] = lv
                rows.append(row)
    return rows


# ---------------------------------------------------------------------------
# OTLP logs encode (capture writer / test fixture generator)
# ---------------------------------------------------------------------------

def encode_export_logs_request(records: list[dict]) -> bytes:
    """Flat log dicts -> ExportLogsServiceRequest bytes. Minimal but real
    wire format: records group by res_idx into ResourceLogs, one ScopeLogs
    each. The ID-validation contract applies: trace_id must be 16 bytes
    and span_id 8 when present (logs.go:145-154 error-not-crash is the
    reader's job; the writer refuses to fabricate invalid frames)."""
    by_res: dict[int, list[dict]] = {}
    for r in records:
        by_res.setdefault(r.get("res_idx", 0), []).append(r)
    out = bytearray()
    for res_idx in sorted(by_res):
        recs = by_res[res_idx]
        scope = b""
        name = next((r.get("scope_name") for r in recs if r.get("scope_name")), None)
        if name:
            scope = _ld(1, _ld(1, name.encode()))
        body_records = bytearray()
        for r in recs:
            lr = bytearray()
            if r.get("time_unix_nano") is not None:
                lr += _tag(1, 1) + struct.pack("<Q", r["time_unix_nano"])
            if r.get("severity_number") is not None:
                lr += _tag(2, 0) + _write_varint(r["severity_number"])
            if r.get("severity_text"):
                lr += _ld(3, r["severity_text"].encode())
            if r.get("body") is not None:
                lr += _ld(5, _ld(1, str(r["body"]).encode()))
            for k, v in (r.get("attrs") or {}).items():
                lr += _ld(6, _ld(1, k.encode()) + _ld(2, _ld(1, str(v).encode())))
            if r.get("trace_id"):
                tid = bytes.fromhex(r["trace_id"])
                if len(tid) != 16:
                    raise ValueError(f"trace_id must be 16 bytes, got {len(tid)}")
                lr += _ld(9, tid)
            if r.get("span_id"):
                sid = bytes.fromhex(r["span_id"])
                if len(sid) != 8:
                    raise ValueError(f"span_id must be 8 bytes, got {len(sid)}")
                lr += _ld(10, sid)
            if r.get("observed_time_unix_nano") is not None:
                lr += _tag(11, 1) + struct.pack("<Q", r["observed_time_unix_nano"])
            body_records += _ld(2, bytes(lr))
        res = b""
        for k, v in (recs[0].get("res_attrs") or {}).items():
            res += _ld(1, _ld(1, k.encode()) + _ld(2, _ld(1, str(v).encode())))
        rl = (_ld(1, res) if res else b"") + _ld(2, scope + bytes(body_records))
        out += _ld(1, bytes(rl))
    return bytes(out)


# ---------------------------------------------------------------------------
# OTLP traces decode/encode (real_trace_dataset.go:118-133 loads the same
# single-request .pb shape; public trace.proto field numbers:
#   ExportTraceServiceRequest: resource_spans = 1
#   ResourceSpans: resource = 1, scope_spans = 2
#   ScopeSpans:    scope = 1, spans = 2
#   Span: trace_id=1, span_id=2, parent_span_id=4, name=5, kind=6,
#         start_time_unix_nano=7 (fixed64), end_time_unix_nano=8 (fixed64),
#         attributes=9, events=11, links=13, status=15 (code=3)
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
    for res_idx, (_, _, span_rl) in enumerate(
        f for f in _iter_fields(data, 0, len(data)) if f[0] == 1
    ):
        scopes = [v for f, _, v in _iter_fields(data, span_rl[0], span_rl[1]) if f == 2]
        for s_lo, s_hi in scopes:
            scope_name = None
            for f, _, v in _iter_fields(data, s_lo, s_hi):
                if f == 1:
                    for sf, _, sv in _iter_fields(data, v[0], v[1]):
                        if sf == 1:
                            scope_name = bytes(data[sv[0]:sv[1]]).decode("utf-8", "replace")
            for f, _, v in _iter_fields(data, s_lo, s_hi):
                if f != 2:  # spans
                    continue
                row = {
                    "path": path,
                    "res_idx": res_idx,
                    "scope_name": scope_name,
                    "trace_id": None,
                    "span_id": None,
                    "parent_span_id": None,
                    "name": None,
                    "kind": None,
                    "start_time_unix_nano": None,
                    "end_time_unix_nano": None,
                    "status_code": None,
                    "n_attrs": 0,
                    "n_events": 0,
                    "n_links": 0,
                    "attrs": {},
                    "events": [],
                    "links": [],
                }
                for sf, _, sv in _iter_fields(data, v[0], v[1]):
                    if sf == 1:
                        row["trace_id"] = bytes(data[sv[0]:sv[1]]).hex()
                    elif sf == 2:
                        row["span_id"] = bytes(data[sv[0]:sv[1]]).hex()
                    elif sf == 4:
                        row["parent_span_id"] = bytes(data[sv[0]:sv[1]]).hex()
                    elif sf == 5:
                        row["name"] = bytes(data[sv[0]:sv[1]]).decode("utf-8", "replace")
                    elif sf == 6:
                        row["kind"] = sv
                    elif sf == 7:
                        row["start_time_unix_nano"] = sv
                    elif sf == 8:
                        row["end_time_unix_nano"] = sv
                    elif sf == 9:
                        row["n_attrs"] += 1
                        k, av = _decode_kv(data, sv[0], sv[1])
                        if k is not None:
                            row["attrs"][k] = av
                    elif sf == 11:  # Span.Event: time_unix_nano=1, name=2
                        row["n_events"] += 1
                        ev: dict = {"time_unix_nano": None, "name": None}
                        for ef, _, evv in _iter_fields(data, sv[0], sv[1]):
                            if ef == 1:
                                ev["time_unix_nano"] = evv
                            elif ef == 2:
                                ev["name"] = bytes(
                                    data[evv[0]:evv[1]]
                                ).decode("utf-8", "replace")
                        row["events"].append(ev)
                    elif sf == 13:  # Span.Link: trace_id=1, span_id=2
                        row["n_links"] += 1
                        lk: dict = {"trace_id": None, "span_id": None}
                        for lf_, _, lv_ in _iter_fields(data, sv[0], sv[1]):
                            if lf_ == 1:
                                lk["trace_id"] = bytes(data[lv_[0]:lv_[1]]).hex()
                            elif lf_ == 2:
                                lk["span_id"] = bytes(data[lv_[0]:lv_[1]]).hex()
                        row["links"].append(lk)
                    elif sf == 15:
                        for stf, _, stv in _iter_fields(data, sv[0], sv[1]):
                            if stf == 3:
                                row["status_code"] = stv
                rows.append(row)
    return rows


def encode_export_trace_request(spans: list[dict]) -> bytes:
    """Flat span dicts -> ExportTraceServiceRequest bytes. trace_id must be
    16 bytes and span ids 8 when present (the ID-validation contract,
    logs.go:145-154 family)."""

    def _id(r: dict, key: str, nbytes: int) -> bytes | None:
        if not r.get(key):
            return None
        raw = bytes.fromhex(r[key])
        if len(raw) != nbytes:
            raise ValueError(f"{key} must be {nbytes} bytes, got {len(raw)}")
        return raw

    by_res: dict[int, list[dict]] = {}
    for r in spans:
        by_res.setdefault(r.get("res_idx", 0), []).append(r)
    out = bytearray()
    for res_idx in sorted(by_res):
        recs = by_res[res_idx]
        scope = b""
        name = next((r.get("scope_name") for r in recs if r.get("scope_name")), None)
        if name:
            scope = _ld(1, _ld(1, name.encode()))
        body = bytearray()
        for r in recs:
            sp = bytearray()
            for key, field, nbytes in (
                ("trace_id", 1, 16), ("span_id", 2, 8), ("parent_span_id", 4, 8)
            ):
                raw = _id(r, key, nbytes)
                if raw is not None:
                    sp += _ld(field, raw)
            if r.get("name"):
                sp += _ld(5, r["name"].encode())
            if r.get("kind") is not None:
                sp += _tag(6, 0) + _write_varint(r["kind"])
            if r.get("start_time_unix_nano") is not None:
                sp += _tag(7, 1) + struct.pack("<Q", r["start_time_unix_nano"])
            if r.get("end_time_unix_nano") is not None:
                sp += _tag(8, 1) + struct.pack("<Q", r["end_time_unix_nano"])
            for k, v in (r.get("attrs") or {}).items():
                sp += _ld(9, _ld(1, k.encode()) + _ld(2, _ld(1, str(v).encode())))
            for ev in r.get("events") or []:
                e = bytearray()
                if ev.get("time_unix_nano") is not None:
                    e += _tag(1, 1) + struct.pack("<Q", ev["time_unix_nano"])
                if ev.get("name"):
                    e += _ld(2, ev["name"].encode())
                sp += _ld(11, bytes(e))
            for ln in r.get("links") or []:
                lk = bytearray()
                for key, field, nbytes in (("trace_id", 1, 16), ("span_id", 2, 8)):
                    raw = _id(ln, key, nbytes)
                    if raw is not None:
                        lk += _ld(field, raw)
                sp += _ld(13, bytes(lk))
            if r.get("status_code") is not None:
                sp += _ld(15, _tag(3, 0) + _write_varint(r["status_code"]))
            body += _ld(2, bytes(sp))
        out += _ld(1, bytes(_ld(2, scope + bytes(body))))
    return bytes(out)


# ---------------------------------------------------------------------------
# OTLP metrics decode/encode (real_metrics_dataset.go loads the same
# single-request .pb shape; public metrics.proto field numbers:
#   ExportMetricsServiceRequest: resource_metrics = 1
#   ResourceMetrics: resource = 1, scope_metrics = 2
#   ScopeMetrics:    scope = 1, metrics = 2
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


def _decode_number_dp(data: bytes, lo: int, hi: int) -> dict:
    dp = {"start_time_unix_nano": None, "time_unix_nano": None,
          "value_double": None, "value_int": None, "n_attrs": 0, "attrs": {}}
    for f, _, v in _iter_fields(data, lo, hi):
        if f == 2:
            dp["start_time_unix_nano"] = v
        elif f == 3:
            dp["time_unix_nano"] = v
        elif f == 4:
            dp["value_double"] = struct.unpack("<d", struct.pack("<Q", v))[0]
        elif f == 6:
            dp["value_int"] = struct.unpack("<q", struct.pack("<Q", v))[0]
        elif f == 7:
            dp["n_attrs"] += 1
            k, av = _decode_kv(data, v[0], v[1])
            if k is not None:
                dp["attrs"][k] = av
    return dp


def _decode_hist_dp(data: bytes, lo: int, hi: int) -> dict:
    dp = {"start_time_unix_nano": None, "time_unix_nano": None,
          "count": None, "sum": None, "bucket_counts": None,
          "explicit_bounds": None, "n_attrs": 0, "attrs": {}}
    for f, wt, v in _iter_fields(data, lo, hi):
        if f == 2:
            dp["start_time_unix_nano"] = v
        elif f == 3:
            dp["time_unix_nano"] = v
        elif f == 4:
            dp["count"] = v
        elif f == 5:
            dp["sum"] = struct.unpack("<d", struct.pack("<Q", v))[0]
        elif f == 6 and wt == 2:  # packed fixed64
            vals = struct.unpack_from(f"<{(v[1] - v[0]) // 8}Q", data, v[0])
            dp["bucket_counts"] = ",".join(str(x) for x in vals)
        elif f == 7 and wt == 2:  # packed doubles
            vals = struct.unpack_from(f"<{(v[1] - v[0]) // 8}d", data, v[0])
            dp["explicit_bounds"] = ",".join(repr(x) for x in vals)
        elif f == 9:
            dp["n_attrs"] += 1
            k, av = _decode_kv(data, v[0], v[1])
            if k is not None:
                dp["attrs"][k] = av
    return dp


def _decode_exp_buckets(data: bytes, lo: int, hi: int) -> tuple[int, list[int]]:
    """ExponentialHistogramDataPoint.Buckets: offset=1 (sint32 zigzag),
    bucket_counts=2 (repeated uint64 — packed or unpacked)."""
    offset, counts = 0, []
    for f, wt, v in _iter_fields(data, lo, hi):
        if f == 1:
            offset = _zigzag_decode(v)
        elif f == 2:
            if wt == 2:  # packed varints
                i = v[0]
                while i < v[1]:
                    c, i = _read_varint(data, i)
                    counts.append(c)
            else:
                counts.append(v)
    return offset, counts


def _decode_exp_hist_dp(data: bytes, lo: int, hi: int) -> dict:
    """ExponentialHistogramDataPoint (public metrics.proto): attributes=1,
    start=2 (fixed64), time=3 (fixed64), count=4 (fixed64), sum=5 (double),
    scale=6 (sint32 zigzag), zero_count=7 (fixed64), positive=8 /
    negative=9 (Buckets with offset). The reference transports the same
    offset-bearing DataPointBuckets on every ExpHistogramDP
    (pkg/otel/metrics/arrow/ehistogram_dp.go:58-62)."""
    dp = {"start_time_unix_nano": None, "time_unix_nano": None,
          "count": None, "sum": None, "scale": None, "zero_count": None,
          "positive_offset": None, "positive_bucket_counts": None,
          "negative_offset": None, "negative_bucket_counts": None,
          "n_attrs": 0, "attrs": {}}
    for f, _, v in _iter_fields(data, lo, hi):
        if f == 1:
            dp["n_attrs"] += 1
            k, av = _decode_kv(data, v[0], v[1])
            if k is not None:
                dp["attrs"][k] = av
        elif f == 2:
            dp["start_time_unix_nano"] = v
        elif f == 3:
            dp["time_unix_nano"] = v
        elif f == 4:
            dp["count"] = v
        elif f == 5:
            dp["sum"] = struct.unpack("<d", struct.pack("<Q", v))[0]
        elif f == 6:
            dp["scale"] = _zigzag_decode(v)
        elif f == 7:
            dp["zero_count"] = v
        elif f in (8, 9):
            off, counts = _decode_exp_buckets(data, v[0], v[1])
            side = "positive" if f == 8 else "negative"
            dp[f"{side}_offset"] = off
            dp[f"{side}_bucket_counts"] = ",".join(str(c) for c in counts)
    return dp


def _decode_summary_dp(data: bytes, lo: int, hi: int) -> dict:
    """SummaryDataPoint (public metrics.proto): start=2, time=3,
    count=4 (fixed64), sum=5 (double), quantile_values=6
    (ValueAtQuantile: quantile=1 double, value=2 double), attributes=7.
    Quantiles render as 'q:value' pairs (repr doubles, lossless)."""
    dp = {"start_time_unix_nano": None, "time_unix_nano": None,
          "count": None, "sum": None, "quantiles": None, "n_attrs": 0,
          "attrs": {}}
    qs: list[str] = []
    for f, _, v in _iter_fields(data, lo, hi):
        if f == 2:
            dp["start_time_unix_nano"] = v
        elif f == 3:
            dp["time_unix_nano"] = v
        elif f == 4:
            dp["count"] = v
        elif f == 5:
            dp["sum"] = struct.unpack("<d", struct.pack("<Q", v))[0]
        elif f == 6:
            q = qval = None
            for qf, _, qv in _iter_fields(data, v[0], v[1]):
                if qf == 1:
                    q = struct.unpack("<d", struct.pack("<Q", qv))[0]
                elif qf == 2:
                    qval = struct.unpack("<d", struct.pack("<Q", qv))[0]
            qs.append(f"{q!r}:{qval!r}")
        elif f == 7:
            dp["n_attrs"] += 1
            k, av = _decode_kv(data, v[0], v[1])
            if k is not None:
                dp["attrs"][k] = av
    if qs:
        dp["quantiles"] = ",".join(qs)
    return dp


_DP_DECODERS = {
    "histogram": _decode_hist_dp,
    "exponential_histogram": _decode_exp_hist_dp,
    "summary": _decode_summary_dp,
}


def decode_export_metrics_request(data: bytes, path: str = "") -> list[dict]:
    """ExportMetricsServiceRequest bytes -> flat data-point dicts (the
    reference's per-DP flattening, real_metrics_dataset.go)."""
    rows: list[dict] = []
    for res_idx, (_, _, span_rm) in enumerate(
        f for f in _iter_fields(data, 0, len(data)) if f[0] == 1
    ):
        scopes = [v for f, _, v in _iter_fields(data, span_rm[0], span_rm[1]) if f == 2]
        for s_lo, s_hi in scopes:
            scope_name = None
            for f, _, v in _iter_fields(data, s_lo, s_hi):
                if f == 1:
                    for sf, _, sv in _iter_fields(data, v[0], v[1]):
                        if sf == 1:
                            scope_name = bytes(data[sv[0]:sv[1]]).decode("utf-8", "replace")
            for f, _, v in _iter_fields(data, s_lo, s_hi):
                if f != 2:  # metrics
                    continue
                name = unit = None
                for mf, _, mv in _iter_fields(data, v[0], v[1]):
                    if mf == 1:
                        name = bytes(data[mv[0]:mv[1]]).decode("utf-8", "replace")
                    elif mf == 3:
                        unit = bytes(data[mv[0]:mv[1]]).decode("utf-8", "replace")
                for mf, _, mv in _iter_fields(data, v[0], v[1]):
                    if mf not in _METRIC_TYPES:
                        continue
                    mtype = _METRIC_TYPES[mf]
                    temporality = monotonic = None
                    dps = []
                    for df, _, dv in _iter_fields(data, mv[0], mv[1]):
                        if df == 1:
                            dps.append(dv)
                        elif df == 2 and mtype in ("sum", "histogram",
                                                   "exponential_histogram"):
                            temporality = dv
                        elif df == 3 and mtype == "sum":
                            monotonic = bool(dv)
                    for d_lo, d_hi in dps:
                        base = {
                            "path": path, "res_idx": res_idx,
                            "scope_name": scope_name, "metric_name": name,
                            "metric_unit": unit, "metric_type": mtype,
                            "temporality": temporality,
                            "is_monotonic": monotonic,
                            "count": None, "sum": None,
                            "bucket_counts": None, "explicit_bounds": None,
                            "value_double": None, "value_int": None,
                            "scale": None, "zero_count": None,
                            "positive_offset": None,
                            "positive_bucket_counts": None,
                            "negative_offset": None,
                            "negative_bucket_counts": None,
                            "quantiles": None,
                            "attrs": {},
                        }
                        dp = _DP_DECODERS.get(mtype, _decode_number_dp)(
                            data, d_lo, d_hi
                        )
                        base.update(dp)
                        rows.append(base)
    return rows


def encode_export_metrics_request(points: list[dict]) -> bytes:
    """Flat DP dicts -> ExportMetricsServiceRequest bytes. Points group by
    (res_idx, metric_name); metric_type picks the data oneof (gauge, sum,
    histogram, exponential_histogram, summary)."""
    by_res: dict[int, dict[tuple, list[dict]]] = {}
    for p in points:
        by_res.setdefault(p.get("res_idx", 0), {}).setdefault(
            (p.get("metric_name"), p.get("metric_type", "gauge")), []
        ).append(p)
    out = bytearray()
    for res_idx in sorted(by_res):
        metrics = bytearray()
        for (name, mtype), dps in by_res[res_idx].items():
            m = bytearray()
            if name:
                m += _ld(1, name.encode())
            if dps[0].get("metric_unit"):
                m += _ld(3, dps[0]["metric_unit"].encode())
            payload = bytearray()
            for p in dps:
                dp = bytearray()
                if p.get("start_time_unix_nano") is not None:
                    dp += _tag(2, 1) + struct.pack("<Q", p["start_time_unix_nano"])
                if p.get("time_unix_nano") is not None:
                    dp += _tag(3, 1) + struct.pack("<Q", p["time_unix_nano"])
                if mtype == "histogram":
                    if p.get("count") is not None:
                        dp += _tag(4, 1) + struct.pack("<Q", p["count"])
                    if p.get("sum") is not None:
                        dp += _tag(5, 1) + struct.pack("<d", p["sum"])
                    if p.get("bucket_counts"):
                        vals = [int(x) for x in str(p["bucket_counts"]).split(",")]
                        dp += _ld(6, struct.pack(f"<{len(vals)}Q", *vals))
                    if p.get("explicit_bounds"):
                        vals = [float(x) for x in str(p["explicit_bounds"]).split(",")]
                        dp += _ld(7, struct.pack(f"<{len(vals)}d", *vals))
                    for k, vv in (p.get("attrs") or {}).items():
                        dp += _ld(9, _ld(1, k.encode()) + _ld(2, _ld(1, str(vv).encode())))
                elif mtype == "exponential_histogram":
                    for k, vv in (p.get("attrs") or {}).items():
                        dp += _ld(1, _ld(1, k.encode()) + _ld(2, _ld(1, str(vv).encode())))
                    if p.get("count") is not None:
                        dp += _tag(4, 1) + struct.pack("<Q", p["count"])
                    if p.get("sum") is not None:
                        dp += _tag(5, 1) + struct.pack("<d", p["sum"])
                    if p.get("scale") is not None:
                        dp += _tag(6, 0) + _write_varint(_zigzag_encode(p["scale"]))
                    if p.get("zero_count") is not None:
                        dp += _tag(7, 1) + struct.pack("<Q", p["zero_count"])
                    for side, field in (("positive", 8), ("negative", 9)):
                        counts = p.get(f"{side}_bucket_counts")
                        off = p.get(f"{side}_offset")
                        if counts is None and off is None:
                            continue
                        b = bytearray()
                        if off is not None:
                            b += _tag(1, 0) + _write_varint(_zigzag_encode(off))
                        if counts:
                            vals = [int(x) for x in str(counts).split(",")]
                            b += _ld(2, b"".join(_write_varint(c) for c in vals))
                        dp += _ld(field, bytes(b))
                elif mtype == "summary":
                    if p.get("count") is not None:
                        dp += _tag(4, 1) + struct.pack("<Q", p["count"])
                    if p.get("sum") is not None:
                        dp += _tag(5, 1) + struct.pack("<d", p["sum"])
                    for pair in str(p.get("quantiles") or "").split(","):
                        if not pair:
                            continue
                        q, qval = pair.split(":")
                        dp += _ld(
                            6,
                            _tag(1, 1) + struct.pack("<d", float(q))
                            + _tag(2, 1) + struct.pack("<d", float(qval)),
                        )
                    for k, vv in (p.get("attrs") or {}).items():
                        dp += _ld(7, _ld(1, k.encode()) + _ld(2, _ld(1, str(vv).encode())))
                else:
                    if p.get("value_double") is not None:
                        dp += _tag(4, 1) + struct.pack("<d", p["value_double"])
                    if p.get("value_int") is not None:
                        dp += _tag(6, 1) + struct.pack("<q", p["value_int"])
                    for k, vv in (p.get("attrs") or {}).items():
                        dp += _ld(7, _ld(1, k.encode()) + _ld(2, _ld(1, str(vv).encode())))
                payload += _ld(1, bytes(dp))
            if mtype == "sum":
                if dps[0].get("temporality") is not None:
                    payload += _tag(2, 0) + _write_varint(dps[0]["temporality"])
                if dps[0].get("is_monotonic"):
                    payload += _tag(3, 0) + _write_varint(1)
            elif (
                mtype in ("histogram", "exponential_histogram")
                and dps[0].get("temporality") is not None
            ):
                payload += _tag(2, 0) + _write_varint(dps[0]["temporality"])
            field = {v: k for k, v in _METRIC_TYPES.items()}[mtype]
            m += _ld(field, bytes(payload))
            metrics += _ld(2, bytes(m))
        out += _ld(1, _ld(2, bytes(metrics)))
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

def write_pb_capture(
    df: DataFrame,
    out_dir: str,
    to_record: Callable[[dict], dict],
    encode: Callable[[list[dict]], bytes],
) -> int:
    """Distributed .pb capture writer (the file exporter's analog): one
    mapInPandas task per partition maps each row (nulls as None) through
    ``to_record`` and writes ``encode(records)`` as ONE request file.
    ``out_dir`` is cleared first, and files are named by PARTITION ID, not
    uuid: a retried or speculatively re-executed task overwrites its own
    file instead of duplicating the partition's records. Workers write to
    local paths (driver-local tmp in local mode; shared storage on a
    cluster). Returns the number of records written."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def write(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import
        from pyspark import TaskContext  # noqa: PLC0415

        recs = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            clean = pdf.astype(object).where(pdf.notna(), None)
            recs.extend(to_record(r) for r in clean.to_dict("records"))
        if recs:
            pid = TaskContext.get().partitionId()
            with open(os.path.join(out_dir, f"part-{pid:05d}.pb"), "wb") as f:
                f.write(encode(recs))
        yield pd.DataFrame({"n": [len(recs)]})

    return df.mapInPandas(write, "n long").agg(F.sum("n")).first()[0] or 0


def _read_pb(
    spark: SparkSession,
    path: str,
    decode_request: Callable[[bytes, str], list[dict]],
    schema: str,
    error_row: dict,
    error_col: str,
) -> DataFrame:
    """binaryFile scan (one row per capture file, Spark splits files across
    tasks) -> mapInPandas decode. A malformed file yields one path-tagged
    quarantine row (``res_idx`` -1, the error text in ``error_col``, the
    rest of ``error_row``) — error-not-crash, the reader counterpart of
    logs.go:145-154."""
    cols = StructType.fromDDL(schema).names

    def decode(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            rows: list[dict] = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                try:
                    rows.extend(decode_request(bytes(content), path_))
                except Exception as e:  # noqa: BLE001 — quarantine, don't crash
                    rows.append({"path": path_, "res_idx": -1,
                                 error_col: f"__decode_error__: {e}", **error_row})
            yield pd.DataFrame(rows, columns=cols)

    binary = spark.read.format("binaryFile").option("pathGlobFilter", "*.pb").load(path)
    return binary.select("path", "content").mapInPandas(decode, schema)


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
