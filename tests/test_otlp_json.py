"""OTLP-JSON capture codec (protojson rendering via to_json/from_json —
zero Python in the data path; the .pb sibling is tested in test_otlp_pb)."""

import pyspark.sql.functions as F

from otel_arrow_adapter_spark.sources.otlp_json import (
    read_otlp_json_logs,
    write_otlp_json_logs,
)


def test_otlp_json_roundtrip_values(spark, tmp_path):
    """Flat rows -> line-sharded ExportLogsServiceRequest -> flat rows:
    severity, body, timestamps (int64-as-string per protojson), record AND
    resource attr key/values, trace/span hex ids all survive."""
    out = str(tmp_path / "cap")
    df = spark.createDataFrame(
        [
            (0, "scope-a", 1_700_000_000_000_000_001, 9, "INFO", "hello",
             {"tool": "t1", "k": "v"}, {"svc": "a"}, "0" * 32, "0102030405060708"),
            (0, "scope-a", 1_700_000_000_000_000_002, 17, "ERROR", None,
             None, {"svc": "a"}, None, None),
            (1, None, None, None, None, "orphan", {"tool": "t2"},
             None, None, None),
        ],
        "res_idx int, scope_name string, time_unix_nano long, "
        "severity_number int, severity_text string, body string, "
        "attrs map<string,string>, res_attrs map<string,string>, "
        "trace_id string, span_id string",
    )
    write_otlp_json_logs(df, out, res_attrs_col="res_attrs")
    rows = {r.time_unix_nano: r for r in read_otlp_json_logs(spark, out).collect()}
    assert len(rows) == 3
    r1 = rows[1_700_000_000_000_000_001]
    assert r1.severity_text == "INFO" and r1.severity_number == 9
    assert r1.body == "hello"
    assert dict(r1.attrs) == {"tool": "t1", "k": "v"}
    assert r1.trace_id == "0" * 32 and r1.span_id == "0102030405060708"
    r2 = rows[1_700_000_000_000_000_002]
    assert r2.severity_text == "ERROR" and r2.body is None and r2.attrs is None
    r3 = rows[None]
    assert r3.body == "orphan" and dict(r3.attrs) == {"tool": "t2"}
    assert r3.scope_name == ""  # null scope normalizes to the empty scope
    # line-sharded: one request line per resource group
    assert spark.read.text(out).count() == 2


def test_otlp_json_malformed_line_quarantines(spark, tmp_path):
    """A garbage line yields ONE quarantine row (res_idx=-1, error in body)
    without dropping the remaining requests — error-not-crash, matching
    the .pb reader's contract."""
    out = str(tmp_path / "cap2")
    df = spark.createDataFrame(
        [(0, 1, 9, "INFO", "ok", None)],
        "res_idx int, time_unix_nano long, severity_number int, "
        "severity_text string, body string, attrs map<string,string>",
    )
    write_otlp_json_logs(df, out)
    with open(f"{out}/garbage.txt", "w") as f:
        f.write("this is not json\n")
    # well-formed requests whose int64 strings do not cast to a long: each
    # such record quarantines instead of failing the read under ANSI mode
    with open(f"{out}/bad_ints.txt", "w") as f:
        for ts in ("abc", "18446744073709551615"):
            f.write('{"resourceLogs":[{"scopeLogs":[{"logRecords":[{"timeUnixNano":"%s",'
                    '"body":{"stringValue":"x"}}]}]}]}\n' % ts)
    rows = read_otlp_json_logs(spark, out).collect()
    good = [r for r in rows if r.res_idx >= 0]
    bad = [r for r in rows if r.res_idx == -1]
    assert len(good) == 1 and good[0].body == "ok"
    assert len(bad) == 3 and all(r.body.startswith("__decode_error__") for r in bad)
    assert sorted(r.body for r in bad if "int64" in r.body) == [
        "__decode_error__: time_unix_nano is not an int64: 18446744073709551615",
        "__decode_error__: time_unix_nano is not an int64: abc",
    ]


def test_otlp_json_logs_keep_scope_version(spark, tmp_path):
    """The InstrumentationScope version survives protojson encode∘decode:
    records group into one scope per (name, version), as in the .pb
    encoder, and the reader surfaces ``scope_version`` as read_pb_logs
    does. A frame without the column writes no version."""
    out = str(tmp_path / "capv")
    df = spark.createDataFrame(
        [(0, "lib", "1.0", 1, "a"), (0, "lib", "2.0", 2, "b"),
         (0, "lib", "1.0", 3, "c"), (0, "lib", None, 4, "d")],
        "res_idx int, scope_name string, scope_version string, "
        "time_unix_nano long, body string",
    )
    write_otlp_json_logs(df, out)
    rows = read_otlp_json_logs(spark, out).collect()
    assert sorted((r.body, r.scope_name, r.scope_version) for r in rows) == [
        ("a", "lib", "1.0"), ("b", "lib", "2.0"), ("c", "lib", "1.0"), ("d", "lib", None),
    ]
    (line,) = [r.value for r in spark.read.text(out).collect()]
    assert line.count('"scope":') == 3 and line.count('"version":"1.0"') == 1

    write_otlp_json_logs(df.drop("scope_version"), out)
    assert {r.scope_version for r in read_otlp_json_logs(spark, out).collect()} == {None}


def test_otlp_json_plan_has_no_python(spark, tmp_path):
    """The decode plan is pure JVM: no BatchEvalPython / ArrowEvalPython /
    mapInPandas stages anywhere (the whole point vs the .pb wire codec)."""
    out = str(tmp_path / "cap3")
    df = spark.createDataFrame(
        [(0, 1, 9, "INFO", "x", None)],
        "res_idx int, time_unix_nano long, severity_number int, "
        "severity_text string, body string, attrs map<string,string>",
    )
    write_otlp_json_logs(df, out)
    plan = read_otlp_json_logs(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "FlatMapGroupsInPandas" not in plan


def test_otlp_json_spans_roundtrip_values(spark, tmp_path):
    """Flat span rows -> line-sharded ExportTraceServiceRequest -> flat
    rows: ids, kind, status, both timestamps, event names+times, link ids
    and attr values all survive; per-row nulls (no parent, no end) stay
    null."""
    from otel_arrow_adapter_spark.sources.otlp_json import (
        read_otlp_json_spans,
        write_otlp_json_spans,
    )

    out = str(tmp_path / "tcap")
    df = spark.createDataFrame(
        [
            (0, "scope-t", "ab" * 16, "01" * 8, "02" * 8, "op-a", 2,
             1_700_000_000_000_000_001, 1_700_000_000_000_000_900, 1,
             {"conv": "c1"},
             [(1_700_000_000_000_000_001, "span.start"),
              (1_700_000_000_000_000_900, "span.end")],
             [("ab" * 16, "02" * 8)]),
            (0, "scope-t", "cd" * 16, "03" * 8, None, "op-b", 1,
             1_700_000_000_000_000_002, None, None, None, [], []),
            (1, None, "ef" * 16, "04" * 8, None, "op-c", 4,
             5, None, 0, {"k": "v"}, [], []),
        ],
        "res_idx int, scope_name string, trace_id string, span_id string, "
        "parent_span_id string, name string, kind int, "
        "start_time_unix_nano long, end_time_unix_nano long, status_code int, "
        "attrs map<string,string>, "
        "events array<struct<time_unix_nano:long,name:string>>, "
        "links array<struct<trace_id:string,span_id:string>>",
    )
    write_otlp_json_spans(df, out)
    rows = {r.span_id: r for r in read_otlp_json_spans(spark, out).collect()}
    assert len(rows) == 3
    a = rows["01" * 8]
    assert a.trace_id == "ab" * 16 and a.parent_span_id == "02" * 8
    assert a.kind == 2 and a.status_code == 1
    assert a.start_time_unix_nano == 1_700_000_000_000_000_001
    assert a.end_time_unix_nano == 1_700_000_000_000_000_900
    assert dict(a.attrs) == {"conv": "c1"}
    assert [e.name for e in a.events] == ["span.start", "span.end"]
    assert a.events[1].time_unix_nano == 1_700_000_000_000_000_900
    assert a.links[0].trace_id == "ab" * 16 and a.links[0].span_id == "02" * 8
    assert a.n_attrs == 1 and a.n_events == 2 and a.n_links == 1
    b = rows["03" * 8]
    assert b.parent_span_id is None and b.end_time_unix_nano is None
    assert b.status_code is None and b.n_events == 0
    c = rows["04" * 8]
    assert c.status_code == 0 and dict(c.attrs) == {"k": "v"}
    # one request line per resource
    assert spark.read.text(out).count() == 2


def test_otlp_json_spans_malformed_and_no_python(spark, tmp_path):
    from otel_arrow_adapter_spark.sources.otlp_json import (
        read_otlp_json_spans,
        write_otlp_json_spans,
    )

    out = str(tmp_path / "tcap2")
    df = spark.createDataFrame(
        [(0, "t" * 32, "s" * 16, "op", 1, None, None, None)],
        "res_idx int, trace_id string, span_id string, name string, "
        "start_time_unix_nano long, attrs map<string,string>, "
        "events array<struct<time_unix_nano:long,name:string>>, "
        "links array<struct<trace_id:string,span_id:string>>",
    )
    write_otlp_json_spans(df, out)
    with open(f"{out}/garbage.txt", "w") as f:
        f.write("{not a request}\n")
    with open(f"{out}/bad_ints.txt", "w") as f:
        f.write('{"resourceSpans":[{"scopeSpans":[{"spans":[{"name":"t",'
                '"startTimeUnixNano":"abc"}]}]}]}\n')
        f.write('{"resourceSpans":[{"scopeSpans":[{"spans":[{"name":"e",'
                '"events":[{"timeUnixNano":"1"},{"timeUnixNano":"x"}]}]}]}]}\n')
    reader = read_otlp_json_spans(spark, out)
    rows = reader.collect()
    good = [r for r in rows if r.res_idx >= 0]
    bad = [r for r in rows if r.res_idx == -1]
    assert len(good) == 1 and good[0].name == "op"
    assert len(bad) == 3 and all(r.name.startswith("__decode_error__") for r in bad)
    assert all(r.n_events == 0 and r.events == [] for r in bad)
    plan = reader._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "FlatMapGroupsInPandas" not in plan


def test_otlp_json_metrics_roundtrip_all_families(spark, tmp_path):
    """All five data families survive protojson encode∘decode on the
    read_pb_metrics flat surface (bucket CSVs, quantile pairs, attrs)."""
    from otel_arrow_adapter_spark.sources.otlp_json import (
        read_otlp_json_metrics,
        write_otlp_json_metrics,
    )

    rows = [
        dict(res_idx=0, metric_name="cpu", metric_unit="1", metric_type="gauge",
             time_unix_nano=1_700_000_000_000_000_001, value_double=1.5,
             attrs={"host": "a"}),
        dict(res_idx=0, metric_name="reqs", metric_unit="1", metric_type="sum",
             temporality=2, is_monotonic=True,
             time_unix_nano=1_700_000_000_000_000_002, value_int=42),
        dict(res_idx=0, metric_name="lat", metric_unit="ms", metric_type="histogram",
             temporality=2, time_unix_nano=3, count=7, sum=21.5,
             bucket_counts="1,2,4", explicit_bounds="0.5,1.0", attrs={"u": "ms"}),
        dict(res_idx=1, metric_name="lat2", metric_unit="ns",
             metric_type="exponential_histogram", temporality=2, time_unix_nano=4,
             count=9, sum=100.25, scale=1, zero_count=2, positive_offset=3,
             positive_bucket_counts="1,0,2", negative_offset=-1,
             negative_bucket_counts="5"),
        dict(res_idx=1, metric_name="q", metric_unit="s", metric_type="summary",
             time_unix_nano=5, count=4, sum=8.0, quantiles="0.5:1.25,0.99:2.5"),
    ]
    schema = (
        "res_idx int, metric_name string, metric_unit string, metric_type string, "
        "temporality int, is_monotonic boolean, time_unix_nano long, "
        "value_double double, value_int long, count long, sum double, "
        "bucket_counts string, explicit_bounds string, scale int, zero_count long, "
        "positive_offset int, positive_bucket_counts string, negative_offset int, "
        "negative_bucket_counts string, quantiles string, attrs map<string,string>"
    )
    cols = [c.split()[0] for c in schema.split(", ")]
    df = spark.createDataFrame([tuple(r.get(c) for c in cols) for r in rows], schema)
    out = str(tmp_path / "mcap")
    write_otlp_json_metrics(df, out)
    dec = {r.metric_name: r for r in read_otlp_json_metrics(spark, out).collect()}
    assert len(dec) == 5
    g = dec["cpu"]
    assert g.metric_type == "gauge" and g.value_double == 1.5
    assert dict(g.attrs) == {"host": "a"} and g.n_attrs == 1
    assert g.time_unix_nano == 1_700_000_000_000_000_001
    s = dec["reqs"]
    assert s.metric_type == "sum" and s.value_int == 42
    assert s.temporality == 2 and s.is_monotonic is True
    h = dec["lat"]
    assert h["count"] == 7 and h["sum"] == 21.5
    assert h.bucket_counts == "1,2,4" and h.explicit_bounds == "0.5,1.0"
    e = dec["lat2"]
    assert e.scale == 1 and e.zero_count == 2
    assert e.positive_offset == 3 and e.positive_bucket_counts == "1,0,2"
    assert e.negative_offset == -1 and e.negative_bucket_counts == "5"
    q = dec["q"]
    assert q.quantiles == "0.5:1.25,0.99:2.5" and q["count"] == 4
    # one request line per resource
    assert spark.read.text(out).count() == 2


def test_otlp_json_metrics_malformed_and_no_python(spark, tmp_path):
    from otel_arrow_adapter_spark.sources.otlp_json import (
        read_otlp_json_metrics,
        write_otlp_json_metrics,
    )

    out = str(tmp_path / "mcap2")
    df = spark.createDataFrame(
        [(0, "m", "1", "gauge", 1, 2.0)],
        "res_idx int, metric_name string, metric_unit string, "
        "metric_type string, time_unix_nano long, value_double double",
    )
    write_otlp_json_metrics(df, out)
    with open(f"{out}/garbage.txt", "w") as f:
        f.write("nope\n")
    with open(f"{out}/bad_ints.txt", "w") as f:
        f.write('{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"name":"h",'
                '"histogram":{"dataPoints":[{"count":"x1"}]}}]}]}]}\n')
        f.write('{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"name":"g",'
                '"gauge":{"dataPoints":[{"timeUnixNano":"abc"}]}}]}]}]}\n')
    reader = read_otlp_json_metrics(spark, out)
    rows = reader.collect()
    good = [r for r in rows if r.res_idx >= 0]
    bad = [r for r in rows if r.res_idx == -1]
    assert len(good) == 1 and good[0].value_double == 2.0
    assert len(bad) == 3 and all(r.metric_name.startswith("__decode_error__") for r in bad)
    assert sorted(r.metric_name for r in bad if "int64" in r.metric_name) == [
        "__decode_error__: count is not an int64: x1",
        "__decode_error__: time_unix_nano is not an int64: abc",
    ]
    plan = reader._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "FlatMapGroupsInPandas" not in plan


def _canonical_lines(path):
    """The request lines a writer emitted, with every array of messages
    except attribute lists sorted, so the result does not depend on the
    order in which collect_list gathered rows. Field order is kept."""
    import glob
    import json

    def walk(x, key=None):
        if isinstance(x, dict):
            return {k: walk(v, k) for k, v in x.items()}
        if isinstance(x, list):
            items = [walk(v) for v in x]
            if key != "attributes" and items and isinstance(items[0], dict):
                items.sort(key=json.dumps)
            return items
        return x

    lines = []
    for f in glob.glob(f"{path}/part-*"):
        with open(f) as fh:
            lines += [json.dumps(walk(json.loads(ln)), separators=(",", ":"))
                      for ln in fh if ln.strip()]
    return sorted(lines)


GOLDEN_LOG_LINES = [
    '{"resourceLogs":[{"resource":{"attributes":[]},"scopeLogs":[{"scope":{"name":"scope-a"},'
    '"logRecords":[{"body":{"stringValue":"orphan"},'
    '"attributes":[{"key":"tool","value":{"stringValue":"t"}}]}]}]}]}',
    '{"resourceLogs":[{"resource":{"attributes":[{"key":"svc","value":{"stringValue":"a"}}]},'
    '"scopeLogs":[{"scope":{"name":""},"logRecords":[{"timeUnixNano":"12","severityNumber":17,'
    '"severityText":"ERROR","body":{}}]},{"scope":{"name":"scope-a"},"logRecords":[{'
    '"timeUnixNano":"11","severityNumber":9,"severityText":"INFO","body":{"stringValue":"hello"},'
    '"attributes":[{"key":"a","value":{"stringValue":"b"}},{"key":"k","value":{"stringValue":"v"}}],'
    '"traceId":"abababababababababababababababab","spanId":"0101010101010101"}]}]}]}',
]
GOLDEN_SPAN_LINES = [
    '{"resourceSpans":[{"resource":{"attributes":[]},"scopeSpans":[{"scope":{"name":""},'
    '"spans":[{"traceId":"cdcdcdcdcdcdcdcdcdcdcdcdcdcdcdcd","spanId":"0303030303030303",'
    '"name":"op-b","kind":1,"startTimeUnixNano":"22","events":[],"links":[]}]},'
    '{"scope":{"name":"scope-t"},"spans":[{"traceId":"abababababababababababababababab",'
    '"spanId":"0101010101010101","parentSpanId":"0202020202020202","name":"op-a","kind":2,'
    '"startTimeUnixNano":"21","endTimeUnixNano":"29","status":{"code":1},'
    '"attributes":[{"key":"conv","value":{"stringValue":"c1"}}],'
    '"events":[{"timeUnixNano":"21","name":"span.start"},{"timeUnixNano":"29","name":"span.end"}],'
    '"links":[{"traceId":"abababababababababababababababab","spanId":"0202020202020202"}]}]}]}]}',
    '{"resourceSpans":[{"resource":{"attributes":[]},"scopeSpans":[{"scope":{"name":"scope-t"},'
    '"spans":[{"traceId":"efefefefefefefefefefefefefefefef","spanId":"0404040404040404",'
    '"name":"op-c","kind":4,"startTimeUnixNano":"5","status":{"code":0},'
    '"attributes":[{"key":"k","value":{"stringValue":"v"}}],"events":[],"links":[]}]}]}]}',
]
GOLDEN_METRIC_LINES = [
    '{"resourceMetrics":[{"resource":{"attributes":[]},"scopeMetrics":[{"scope":{"name":""},'
    '"metrics":[{"name":"lat","unit":"ms","histogram":{"aggregationTemporality":1,'
    '"dataPoints":[{"timeUnixNano":"33","count":"3","bucketCounts":["1","2"],'
    '"explicitBounds":[0.5],"attributes":[]}]}}]}]}]}',
    '{"resourceMetrics":[{"resource":{"attributes":[]},"scopeMetrics":[{"scope":{"name":"scope-m"},'
    '"metrics":[{"name":"reqs","unit":"1","sum":{"aggregationTemporality":2,"isMonotonic":true,'
    '"dataPoints":[{"timeUnixNano":"31","asInt":"41",'
    '"attributes":[{"key":"h","value":{"stringValue":"a"}}]},{"timeUnixNano":"32","asInt":"42",'
    '"attributes":[{"key":"h","value":{"stringValue":"b"}}]}]}}]}]}]}',
]


def test_otlp_json_writers_golden_lines(spark, tmp_path):
    """The exact request lines each writer emits for a 3-row frame: two
    scopes of one resource plus a second resource, record and resource
    attrs, span events and links, and two points of one metric next to a
    histogram. A refactor of the writer core must leave them unchanged."""
    from otel_arrow_adapter_spark.sources.otlp_json import (
        write_otlp_json_metrics,
        write_otlp_json_spans,
    )

    logs = spark.createDataFrame(
        [
            (0, "scope-a", 11, 9, "INFO", "hello", {"k": "v", "a": "b"},
             {"svc": "a"}, "ab" * 16, "01" * 8),
            (0, None, 12, 17, "ERROR", None, None, {"svc": "a"}, None, None),
            (1, "scope-a", None, None, None, "orphan", {"tool": "t"}, None, None, None),
        ],
        "res_idx int, scope_name string, time_unix_nano long, "
        "severity_number int, severity_text string, body string, "
        "attrs map<string,string>, res_attrs map<string,string>, "
        "trace_id string, span_id string",
    )
    write_otlp_json_logs(logs, str(tmp_path / "logs"), res_attrs_col="res_attrs")
    assert _canonical_lines(tmp_path / "logs") == GOLDEN_LOG_LINES

    spans = spark.createDataFrame(
        [
            (0, "scope-t", "ab" * 16, "01" * 8, "02" * 8, "op-a", 2, 21, 29, 1,
             {"conv": "c1"}, [(21, "span.start"), (29, "span.end")],
             [("ab" * 16, "02" * 8)]),
            (0, None, "cd" * 16, "03" * 8, None, "op-b", 1, 22, None, None,
             None, [], []),
            (1, "scope-t", "ef" * 16, "04" * 8, None, "op-c", 4, 5, None, 0,
             {"k": "v"}, [], []),
        ],
        "res_idx int, scope_name string, trace_id string, span_id string, "
        "parent_span_id string, name string, kind int, "
        "start_time_unix_nano long, end_time_unix_nano long, status_code int, "
        "attrs map<string,string>, "
        "events array<struct<time_unix_nano:long,name:string>>, "
        "links array<struct<trace_id:string,span_id:string>>",
    )
    write_otlp_json_spans(spans, str(tmp_path / "spans"))
    assert _canonical_lines(tmp_path / "spans") == GOLDEN_SPAN_LINES

    metrics = spark.createDataFrame(
        [
            (0, "scope-m", "reqs", "1", "sum", 2, True, 31, 41, None, None, None,
             {"h": "a"}),
            (0, "scope-m", "reqs", "1", "sum", 2, True, 32, 42, None, None, None,
             {"h": "b"}),
            (1, None, "lat", "ms", "histogram", 1, None, 33, None, 3, "1,2", "0.5", {}),
        ],
        "res_idx int, scope_name string, metric_name string, metric_unit string, "
        "metric_type string, temporality int, is_monotonic boolean, "
        "time_unix_nano long, value_int long, count long, bucket_counts string, "
        "explicit_bounds string, attrs map<string,string>",
    )
    write_otlp_json_metrics(metrics, str(tmp_path / "metrics"))
    assert _canonical_lines(tmp_path / "metrics") == GOLDEN_METRIC_LINES
