"""One flat frame per signal through both capture codecs: the ``.pb`` path
(``write_pb_capture`` -> ``read_pb_*``) and the protojson path
(``write_otlp_json_*`` -> ``read_otlp_json_*``) take the same frame and
read back the same rows on the columns both readers emit."""

import pytest
from pyspark.sql.types import MapType

from otel_arrow_adapter_spark.sources.otlp_json import (
    read_otlp_json_logs,
    read_otlp_json_metrics,
    read_otlp_json_spans,
    write_otlp_json_logs,
    write_otlp_json_metrics,
    write_otlp_json_spans,
)
from otel_arrow_adapter_spark.sources.otlp_pb import (
    encode_export_logs_request,
    encode_export_metrics_request,
    encode_export_trace_request,
    read_pb_logs,
    read_pb_metrics,
    read_pb_spans,
    write_pb_capture,
)

LOGS = (
    [
        (0, "scope-a", "1.0", 1_700_000_000_000_000_001, 9, "INFO", "hello",
         {"tool": "t1", "k": "v"}),
        (0, "scope-a", "2.0", None, 17, "ERROR", None, None),
        (0, None, None, 5, None, None, "orphan", {"tool": "t2"}),
    ],
    "res_idx int, scope_name string, scope_version string, time_unix_nano long, "
    "severity_number int, "
    "severity_text string, body string, attrs map<string,string>",
)

METRICS = (
    [
        (0, "scope-m", "lat", "ms", "exponential_histogram", 1, 31, 7, 1.5, -2, None,
         3, "1,0,2", None, None, {"unit": "ms"}),
        (0, "scope-m", "lat", "ms", "exponential_histogram", 1, 32, 4, 0.25, 0, 1,
         None, None, -1, "5", None),
        (0, None, "cpu", "1", "gauge", None, None, None, None, None, None,
         None, None, None, None, {"core": "0"}),
    ],
    "res_idx int, scope_name string, metric_name string, metric_unit string, "
    "metric_type string, temporality int, time_unix_nano long, count long, "
    "sum double, scale int, zero_count long, positive_offset int, "
    "positive_bucket_counts string, negative_offset int, "
    "negative_bucket_counts string, attrs map<string,string>",
)

SPANS = (
    [
        (0, "scope-t", "ab" * 16, "01" * 8, "02" * 8, "op-a", 2, 21, 29, 1,
         {"conv": "c1"}, [(21, "span.start"), (29, "span.end")], [("ab" * 16, "02" * 8)]),
        (0, "scope-t", "cd" * 16, "03" * 8, None, "op-b", 1, 22, None, None,
         None, [], []),
    ],
    "res_idx int, scope_name string, trace_id string, span_id string, "
    "parent_span_id string, name string, kind int, start_time_unix_nano long, "
    "end_time_unix_nano long, status_code int, attrs map<string,string>, "
    "events array<struct<time_unix_nano:long,name:string>>, "
    "links array<struct<trace_id:string,span_id:string>>",
)

CODECS = {
    "logs": (LOGS, encode_export_logs_request, read_pb_logs,
             write_otlp_json_logs, read_otlp_json_logs),
    "metrics": (METRICS, encode_export_metrics_request, read_pb_metrics,
                write_otlp_json_metrics, read_otlp_json_metrics),
    "spans": (SPANS, encode_export_trace_request, read_pb_spans,
              write_otlp_json_spans, read_otlp_json_spans),
}


def _canonical(value):
    """A collected value as a comparable one: maps as sorted item tuples,
    structs and arrays as tuples."""
    if isinstance(value, dict):
        return tuple(sorted(value.items()))
    if isinstance(value, (list, tuple)):
        return tuple(_canonical(v) for v in value)
    return value


def _rows(df, cols):
    """The rows of ``df`` on ``cols``, canonical and sorted. An absent
    attribute map and an absent scope name read back differently per codec
    (.pb: an empty map and null; protojson: null and the empty scope
    ''), but proto3 gives neither field presence, so both are read as
    their proto3 default: an empty map and ''."""
    maps = {f.name for f in df.schema.fields if isinstance(f.dataType, MapType)}

    def value(r, c):
        if r[c] is None and c in maps:
            return ()
        if r[c] is None and c == "scope_name":
            return ""
        return _canonical(r[c])

    return sorted((tuple(value(r, c) for c in cols) for r in df.collect()), key=repr)


@pytest.mark.parametrize("signal", sorted(CODECS))
def test_one_frame_both_codecs(spark, tmp_path, signal):
    (rows, ddl), encode, read_pb, write_json, read_json = CODECS[signal]
    frame = spark.createDataFrame(rows, ddl)
    pb_dir, json_dir = str(tmp_path / "pb"), str(tmp_path / "json")
    assert write_pb_capture(frame, pb_dir, encode) == len(rows)
    write_json(frame, json_dir)
    pb, js = read_pb(spark, pb_dir), read_json(spark, json_dir)
    cols = [c for c in pb.columns if c in js.columns and c != "path"]
    assert len(cols) >= 8
    assert _rows(pb, cols) == _rows(js, cols)
