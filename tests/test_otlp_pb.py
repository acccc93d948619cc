"""S8: OTLP .pb dataset loader (pure-Python wire format + Spark binaryFile
-> mapInArrow plumbing). Round-trip against our own capture writer, plus
error-not-crash on malformed frames."""

import pytest


SAMPLE = [
    {
        "res_idx": 0,
        "scope_name": "svc.a",
        "time_unix_nano": 1_700_000_000_000_000_000,
        "observed_time_unix_nano": 1_700_000_000_000_000_500,
        "severity_number": 9,
        "severity_text": "INFO",
        "body": "hello world",
        "attrs": {"k1": "v1", "k2": "v2"},
        "res_attrs": {"host": "h0"},
        "trace_id": "0102030405060708090a0b0c0d0e0f10",
        "span_id": "0102030405060708",
    },
    {
        "res_idx": 0,
        "scope_name": "svc.a",
        "severity_number": 17,
        "severity_text": "ERROR",
        "body": "boom",
        "attrs": {},
        "res_attrs": {"host": "h0"},
    },
    {"res_idx": 1, "body": "other resource", "attrs": {"x": "1"}},
]


def test_pb_roundtrip_pure_python():
    from otel_arrow_adapter_spark.sources import (
        decode_export_logs_request,
        encode_export_logs_request,
    )

    rows = decode_export_logs_request(encode_export_logs_request(SAMPLE))
    assert len(rows) == 3
    r0 = next(r for r in rows if r["severity_text"] == "INFO")
    assert r0["body"] == "hello world"
    assert r0["time_unix_nano"] == 1_700_000_000_000_000_000
    assert r0["observed_time_unix_nano"] == 1_700_000_000_000_000_500
    assert r0["trace_id"] == "0102030405060708090a0b0c0d0e0f10"
    assert r0["span_id"] == "0102030405060708"
    assert r0["n_attrs"] == 2 and r0["n_res_attrs"] == 1
    assert r0["scope_name"] == "svc.a"
    r2 = next(r for r in rows if r["res_idx"] == 1)
    assert r2["body"] == "other resource" and r2["n_attrs"] == 1


def test_pb_writer_validates_ids():
    from otel_arrow_adapter_spark.sources import encode_export_logs_request

    with pytest.raises(ValueError, match="trace_id"):
        encode_export_logs_request([{"res_idx": 0, "trace_id": "0102"}])
    with pytest.raises(ValueError, match="span_id"):
        encode_export_logs_request([{"res_idx": 0, "span_id": "01"}])


def test_pb_spark_reader(spark, tmp_path):
    from otel_arrow_adapter_spark.sources import (
        encode_export_logs_request,
        read_pb_logs,
    )

    d = tmp_path / "captures"
    d.mkdir()
    (d / "a.pb").write_bytes(encode_export_logs_request(SAMPLE))
    (d / "b.pb").write_bytes(encode_export_logs_request(SAMPLE[:1]))
    (d / "bad.pb").write_bytes(b"\xff\xff\xff\xff\xff\xff")  # malformed
    (d / "ignored.txt").write_bytes(b"not a capture")
    # well-formed wire, but values that do not fit their int / long columns
    (d / "big_sev.pb").write_bytes(encode_export_logs_request([{"severity_number": 2**40}]))
    (d / "big_ts.pb").write_bytes(encode_export_logs_request([{"time_unix_nano": 2**64 - 1}]))

    df = read_pb_logs(spark, str(d))
    rows = df.collect()
    good = [r for r in rows if r["res_idx"] >= 0]
    bad = [r for r in rows if r["res_idx"] == -1]
    assert len(good) == 4  # 3 from a.pb + 1 from b.pb
    assert len(bad) == 3  # one row per quarantined file
    assert sorted(r["path"].rsplit("/", 1)[1] for r in bad) == ["bad.pb", "big_sev.pb", "big_ts.pb"]
    assert all("__decode_error__" in r["body"] for r in bad)
    # typed columns survive the Arrow transfer
    infos = [r for r in good if r["severity_text"] == "INFO"]
    assert len(infos) == 2
    assert all(r["time_unix_nano"] == 1_700_000_000_000_000_000 for r in infos)


def test_write_pb_capture_retry_idempotent(spark, tmp_path):
    """A re-run into the same directory (what a retried or speculative task
    does per partition) leaves one file per non-empty partition and no
    duplicate records: files are named by partition id, not uuid, and the
    directory starts empty."""
    from pyspark.sql import functions as F

    from otel_arrow_adapter_spark.sources.otlp_pb import (
        encode_export_logs_request,
        read_pb_logs,
        write_pb_capture,
    )

    # 5 partitions of 8 ids each; the filter leaves partitions 3 and 4 empty
    df = spark.range(0, 40, numPartitions=5).where(F.col("id") < 24).select(
        F.concat(F.lit("rec-"), F.col("id").cast("string")).alias("body"),
        (F.col("id") * 1000).alias("time_unix_nano"),
    )
    non_empty = df.select(F.spark_partition_id()).distinct().count()
    out = tmp_path / "capture"
    out.mkdir()
    (out / "stale.pb").write_bytes(encode_export_logs_request([{"body": "stale"}]))

    for _ in range(2):
        assert write_pb_capture(df, str(out), encode_export_logs_request) == 24
    files = sorted(p.name for p in out.iterdir() if p.suffix == ".pb")
    assert non_empty == 3
    assert files == [f"part-{i:05d}.pb" for i in range(non_empty)]
    bodies = [r["body"] for r in read_pb_logs(spark, str(out)).collect()]
    assert sorted(bodies) == sorted(f"rec-{i}" for i in range(24))


def test_write_pb_capture_file_uri(spark, tmp_path, monkeypatch):
    """A file:// out_dir is written where the URI points (not into a
    ``file:`` directory under the working directory), so the reader finds
    it under the same URI; a scheme the workers cannot open() is refused."""
    from pyspark.sql import functions as F

    from otel_arrow_adapter_spark.sources.otlp_pb import (
        encode_export_logs_request,
        read_pb_logs,
        write_pb_capture,
    )

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    df = spark.range(0, 6, numPartitions=2).select(
        F.concat(F.lit("rec-"), F.col("id").cast("string")).alias("body"),
        (F.col("id") * 1000).alias("time_unix_nano"),
    )

    out = tmp_path / "capture"
    uri = f"file://{out}"
    assert write_pb_capture(df, uri, encode_export_logs_request) == 6
    assert list(cwd.iterdir()) == []
    assert sorted(p.name for p in out.iterdir()) == ["part-00000.pb", "part-00001.pb"]
    bodies = [r["body"] for r in read_pb_logs(spark, uri).collect()]
    assert sorted(bodies) == [f"rec-{i}" for i in range(6)]
    with pytest.raises(ValueError, match="local files"):
        write_pb_capture(df, "hdfs://nn:8020/capture", encode_export_logs_request)


def test_pb_wire_roundtrip_property():
    """Property form: arbitrary record sets (unicode text, optional fields
    absent at random, extreme timestamps) survive encode∘decode exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from otel_arrow_adapter_spark.sources import (
        decode_export_logs_request,
        encode_export_logs_request,
    )

    text = st.one_of(st.none(), st.text(max_size=40))
    record = st.fixed_dictionaries(
        {
            "res_idx": st.integers(min_value=0, max_value=3),
            "scope_name": text,
            "severity_text": text,
            "severity_number": st.one_of(st.none(), st.integers(0, 24)),
            "body": text,
            "time_unix_nano": st.one_of(
                st.none(), st.integers(0, 2**63 - 1)
            ),
            "attrs": st.dictionaries(st.text(min_size=1, max_size=8), st.text(max_size=8), max_size=3),
        }
    )

    @given(st.lists(record, max_size=12))
    @settings(max_examples=150, deadline=None)
    def check(records):
        out = decode_export_logs_request(encode_export_logs_request(records))
        assert len(out) == len(records)
        by_res_in: dict = {}
        for r in records:
            by_res_in.setdefault(r["res_idx"], []).append(r)
        by_res_out: dict = {}
        for r in out:
            by_res_out.setdefault(r["res_idx"], []).append(r)
        # res_idx relabels densely (0..n-1 in input-res order)
        assert sorted(len(v) for v in by_res_in.values()) == sorted(
            len(v) for v in by_res_out.values()
        )
        for rs_in, rs_out in zip(
            (by_res_in[k] for k in sorted(by_res_in)),
            (by_res_out[k] for k in sorted(by_res_out)),
        ):
            for a, b in zip(rs_in, rs_out):
                # severity_text/scope_name are truthiness-elided by the
                # writer ('' -> absent -> None); body and the numerics
                # round-trip exactly whenever present (0 and '' included)
                assert (a["severity_text"] or None) == b["severity_text"], (a, b)
                assert a["body"] == b["body"], (a, b)
                assert a["severity_number"] == b["severity_number"], (a, b)
                assert a["time_unix_nano"] == b["time_unix_nano"], (a, b)
                assert len(a["attrs"]) == b["n_attrs"]

    check()


def test_exp2_lower_bound_property():
    """lo = exp2_lower_bound(i, s) is EXACTLY ceil(2^(i/2^s)): checked in
    pure integer arithmetic ((lo-1)^(2^s) < 2^i <= lo^(2^s)) — no floats."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from otel_arrow_adapter_spark.operators.metrics_dp import exp2_lower_bound

    @given(st.integers(0, 200), st.integers(-4, 6))
    @settings(max_examples=300, deadline=None)
    def check(i, s):
        lo = exp2_lower_bound(i, s)
        if s < 0:
            assert lo == 1 << (i * (1 << -s))
            return
        p = 1 << s
        assert lo**p >= (1 << i) > (lo - 1) ** p
        # smallest such integer: lo-1 must fail the >= condition unless lo==1
        assert lo == 1 or (lo - 1) ** p < (1 << i)

    check()


SPAN_SAMPLE = [
    {
        "res_idx": 0,
        "scope_name": "tracer.a",
        "trace_id": "0102030405060708090a0b0c0d0e0f10",
        "span_id": "0102030405060708",
        "parent_span_id": "1112131415161718",
        "name": "GET /x",
        "kind": 2,
        "start_time_unix_nano": 1_700_000_000_000_000_000,
        "end_time_unix_nano": 1_700_000_000_000_005_000,
        "status_code": 1,
        "attrs": {"http.method": "GET"},
        "events": [
            {"time_unix_nano": 1_700_000_000_000_001_000, "name": "start"},
            {"time_unix_nano": 1_700_000_000_000_004_000, "name": "end"},
        ],
        "links": [
            {"trace_id": "202122232425262728292a2b2c2d2e2f", "span_id": "3132333435363738"}
        ],
    },
    {
        "res_idx": 1,
        "trace_id": "0102030405060708090a0b0c0d0e0f10",
        "span_id": "2122232425262728",
        "name": "child",
        "kind": 1,
    },
]


def test_pb_trace_roundtrip_pure_python():
    from otel_arrow_adapter_spark.sources import (
        decode_export_trace_request,
        encode_export_trace_request,
    )

    rows = decode_export_trace_request(encode_export_trace_request(SPAN_SAMPLE))
    assert len(rows) == 2
    r0 = next(r for r in rows if r["name"] == "GET /x")
    assert r0["trace_id"] == "0102030405060708090a0b0c0d0e0f10"
    assert r0["span_id"] == "0102030405060708"
    assert r0["parent_span_id"] == "1112131415161718"
    assert r0["kind"] == 2 and r0["status_code"] == 1
    assert r0["start_time_unix_nano"] == 1_700_000_000_000_000_000
    assert r0["end_time_unix_nano"] == 1_700_000_000_000_005_000
    assert r0["n_attrs"] == 1 and r0["n_events"] == 2 and r0["n_links"] == 1
    assert r0["scope_name"] == "tracer.a"
    r1 = next(r for r in rows if r["name"] == "child")
    assert r1["res_idx"] == 1 and r1["parent_span_id"] is None


def test_pb_writers_reject_negative_varints():
    """A negative enum would loop forever in the varint writer (its shift
    walks toward -1); every varint field is unsigned, so it raises."""
    from otel_arrow_adapter_spark.sources import (
        encode_export_logs_request,
        encode_export_trace_request,
    )

    with pytest.raises(ValueError, match="-1 is negative"):
        encode_export_logs_request([{"res_idx": 0, "severity_number": -1}])
    with pytest.raises(ValueError, match="-2 is negative"):
        encode_export_trace_request([{"kind": -2}])
    with pytest.raises(ValueError, match="-3 is negative"):
        encode_export_trace_request([{"status_code": -3}])


def test_pb_trace_writer_validates_ids():
    from otel_arrow_adapter_spark.sources import encode_export_trace_request

    with pytest.raises(ValueError, match="trace_id"):
        encode_export_trace_request([{"trace_id": "0102"}])
    with pytest.raises(ValueError, match="parent_span_id"):
        encode_export_trace_request([{"parent_span_id": "01"}])


def test_pb_trace_spark_reader(spark, tmp_path):
    from otel_arrow_adapter_spark.sources import (
        encode_export_trace_request,
        read_pb_spans,
    )

    d = tmp_path / "trace_captures"
    d.mkdir()
    (d / "a.pb").write_bytes(encode_export_trace_request(SPAN_SAMPLE))
    (d / "bad.pb").write_bytes(b"\x9a\xff\x01garbage")

    rows = read_pb_spans(spark, str(d)).collect()
    good = [r for r in rows if r["res_idx"] >= 0]
    bad = [r for r in rows if r["res_idx"] == -1]
    assert len(good) == 2
    assert {r["span_id"] for r in good} == {"0102030405060708", "2122232425262728"}
    assert len(bad) == 1 and "__decode_error__" in bad[0]["name"]


METRIC_SAMPLE = [
    {
        "res_idx": 0, "scope_name": None, "metric_name": "cpu_pct",
        "metric_unit": "%", "metric_type": "gauge",
        "time_unix_nano": 1_700_000_000_000_000_000,
        "value_double": 0.93, "attrs": {"core": "0"},
    },
    {
        "res_idx": 0, "metric_name": "requests", "metric_type": "sum",
        "temporality": 2, "is_monotonic": True,
        "start_time_unix_nano": 1_699_999_000_000_000_000,
        "time_unix_nano": 1_700_000_000_000_000_000,
        "value_int": 12345, "attrs": {},
    },
    {
        "res_idx": 1, "metric_name": "latency_ms", "metric_unit": "ms",
        "metric_type": "histogram", "temporality": 1,
        "time_unix_nano": 1_700_000_000_000_000_000,
        "count": 10, "sum": 123.5,
        "bucket_counts": "1,4,5", "explicit_bounds": "10.0,100.0",
        "attrs": {"route": "/x"},
    },
]


def test_pb_metrics_roundtrip_pure_python():
    from otel_arrow_adapter_spark.sources import (
        decode_export_metrics_request,
        encode_export_metrics_request,
    )

    rows = decode_export_metrics_request(encode_export_metrics_request(METRIC_SAMPLE))
    assert len(rows) == 3
    g = next(r for r in rows if r["metric_name"] == "cpu_pct")
    assert g["metric_type"] == "gauge" and g["metric_unit"] == "%"
    assert g["value_double"] == 0.93 and g["n_attrs"] == 1
    assert g["attrs"] == {"core": "0"}
    s = next(r for r in rows if r["metric_name"] == "requests")
    assert s["metric_type"] == "sum" and s["temporality"] == 2
    assert s["is_monotonic"] is True and s["value_int"] == 12345
    assert s["start_time_unix_nano"] == 1_699_999_000_000_000_000
    h = next(r for r in rows if r["metric_name"] == "latency_ms")
    assert h["metric_type"] == "histogram" and h["temporality"] == 1
    assert h["count"] == 10 and h["sum"] == 123.5
    assert h["bucket_counts"] == "1,4,5"
    assert h["attrs"] == {"route": "/x"}
    assert [float(x) for x in h["explicit_bounds"].split(",")] == [10.0, 100.0]
    assert h["res_idx"] != g["res_idx"]


EXP_HIST_SAMPLE = [
    {
        # latency-in-ns shape: sparse buckets starting at a LARGE offset —
        # the case the r4 NumberDP-layout fallthrough silently garbled
        "res_idx": 0, "metric_name": "rpc_latency_ns",
        "metric_type": "exponential_histogram", "temporality": 2,
        "time_unix_nano": 1_700_000_000_000_000_000,
        "count": 10, "sum": 12345.5, "scale": 0, "zero_count": 1,
        "positive_offset": 30, "positive_bucket_counts": "3,0,4",
        "negative_offset": -2, "negative_bucket_counts": "2",
        "attrs": {"svc": "a"},
    },
    {
        "res_idx": 0, "metric_name": "q_delay",
        "metric_type": "summary",
        "time_unix_nano": 1_700_000_000_000_000_000,
        "count": 100, "sum": 5000.0,
        "quantiles": "0.5:12.0,0.99:130.5",
        "attrs": {"svc": "b"},
    },
]


def test_pb_exp_hist_and_summary_roundtrip():
    """Dedicated ExpHistogramDP / SummaryDP decoders (ADVICE r4: these
    metric types previously fell through to the NumberDP field layout —
    count reinterpreted as double bits, scale landing in value_int, and a
    summary's quantile_values crashing the whole file into quarantine)."""
    from otel_arrow_adapter_spark.sources import (
        decode_export_metrics_request,
        encode_export_metrics_request,
    )

    rows = decode_export_metrics_request(
        encode_export_metrics_request(EXP_HIST_SAMPLE)
    )
    assert len(rows) == 2
    e = next(r for r in rows if r["metric_type"] == "exponential_histogram")
    assert e["count"] == 10 and e["sum"] == 12345.5
    assert e["scale"] == 0 and e["zero_count"] == 1
    assert e["positive_offset"] == 30
    assert e["positive_bucket_counts"] == "3,0,4"
    assert e["negative_offset"] == -2
    assert e["negative_bucket_counts"] == "2"
    assert e["temporality"] == 2 and e["n_attrs"] == 1
    assert e["attrs"] == {"svc": "a"}
    # NumberDP fields stay clean — no field-layout bleed-through
    assert e["value_double"] is None and e["value_int"] is None
    s = next(r for r in rows if r["metric_type"] == "summary")
    assert s["count"] == 100 and s["sum"] == 5000.0
    assert s["quantiles"] == "0.5:12.0,0.99:130.5"
    assert s["n_attrs"] == 1 and s["attrs"] == {"svc": "b"}
    assert s["value_double"] is None and s["value_int"] is None


def test_pb_exp_hist_negative_scale_zigzag():
    from otel_arrow_adapter_spark.sources import (
        decode_export_metrics_request,
        encode_export_metrics_request,
    )

    rows = decode_export_metrics_request(
        encode_export_metrics_request(
            [{"res_idx": 0, "metric_name": "m",
              "metric_type": "exponential_histogram", "scale": -3,
              "positive_offset": -7, "positive_bucket_counts": "1,2"}]
        )
    )
    assert rows[0]["scale"] == -3 and rows[0]["positive_offset"] == -7


def test_pb_summary_does_not_quarantine_file(spark, tmp_path):
    """A capture mixing all five metric types loads fully — one summary
    metric no longer quarantines the whole file (ADVICE r4 failure mode)."""
    from otel_arrow_adapter_spark.sources import (
        encode_export_metrics_request,
        read_pb_metrics,
    )

    d = tmp_path / "mixed_captures"
    d.mkdir()
    (d / "a.pb").write_bytes(
        encode_export_metrics_request(METRIC_SAMPLE + EXP_HIST_SAMPLE)
    )
    rows = read_pb_metrics(spark, str(d)).collect()
    assert all(r["res_idx"] >= 0 for r in rows)
    assert {r["metric_type"] for r in rows} == {
        "gauge", "sum", "histogram", "exponential_histogram", "summary"
    }
    e = next(r for r in rows if r["metric_type"] == "exponential_histogram")
    assert e["positive_offset"] == 30 and e["scale"] == 0
    # DP attr key/values surface through the Spark map column
    assert dict(e["attrs"]) == {"svc": "a"}
    g = next(r for r in rows if r["metric_type"] == "gauge")
    assert dict(g["attrs"]) == {"core": "0"}


def test_pb_log_attr_values_roundtrip():
    """S8 fidelity: the log reader surfaces attribute key/VALUES (not just
    counts) for both record and resource attrs."""
    from otel_arrow_adapter_spark.sources import (
        decode_export_logs_request,
        encode_export_logs_request,
    )

    rows = decode_export_logs_request(encode_export_logs_request(SAMPLE))
    r0 = next(r for r in rows if r["severity_text"] == "INFO")
    assert r0["attrs"] == {"k1": "v1", "k2": "v2"}
    assert r0["res_attrs"] == {"host": "h0"}
    r2 = next(r for r in rows if r["res_idx"] == 1)
    assert r2["attrs"] == {"x": "1"} and r2["res_attrs"] == {}


def test_pb_trace_event_link_values_roundtrip():
    """Span events (name, time) and link ids decode as values, so a .pb
    capture can feed wire_span_children directly (reference ER model,
    docs/data_model.md:310-413)."""
    from otel_arrow_adapter_spark.sources import (
        decode_export_trace_request,
        encode_export_trace_request,
    )

    rows = decode_export_trace_request(encode_export_trace_request(SPAN_SAMPLE))
    r0 = next(r for r in rows if r["name"] == "GET /x")
    assert [e["name"] for e in r0["events"]] == ["start", "end"]
    assert r0["events"][0]["time_unix_nano"] == 1_700_000_000_000_001_000
    assert r0["links"] == [
        {"trace_id": "202122232425262728292a2b2c2d2e2f",
         "span_id": "3132333435363738"}
    ]
    assert r0["attrs"] == {"http.method": "GET"}


def test_pb_capture_feeds_span_star_schema(spark, tmp_path):
    """End-to-end: .pb trace capture -> read_pb_spans -> explode events /
    links into related records -> wire_span_children re-attaches them
    (the decode-side J3 join over a REAL capture, not synthesized rows)."""
    from pyspark.sql import functions as F

    from otel_arrow_adapter_spark.operators.span_records import (
        wire_span_children,
    )
    from otel_arrow_adapter_spark.sources import (
        encode_export_trace_request,
        read_pb_spans,
    )

    d = tmp_path / "star_captures"
    d.mkdir()
    (d / "a.pb").write_bytes(encode_export_trace_request(SPAN_SAMPLE))

    spans = read_pb_spans(spark, str(d)).withColumns(
        {"conv_id": F.col("trace_id"), "turn_idx": F.lit(0),
         "span_hex": F.col("span_id")}
    )
    key = ["conv_id", "turn_idx", "span_hex"]
    events = spans.select(*key, F.explode("events").alias("e")).select(
        *key,
        F.col("e.name").alias("event_name"),
        (F.col("e.time_unix_nano") / 1000).cast("long").alias("event_ts_us"),
    )
    links = spans.select(*key, F.explode("links").alias("l")).select(
        *key,
        F.col("l.trace_id").alias("link_trace_hex"),
        F.col("l.span_id").alias("link_span_hex"),
    )
    wired = wire_span_children(
        spans.drop("events", "links", "n_events", "n_links"), events, links
    )
    w0 = next(r for r in wired.collect() if r["name"] == "GET /x")
    assert w0["n_events"] == 2 and w0["n_links"] == 1
    assert w0["last_event_ts_us"] - w0["first_event_ts_us"] == 3  # 3000 ns
    w1 = next(r for r in wired.collect() if r["name"] == "child")
    assert w1["n_events"] == 0 and w1["n_links"] == 0


def test_pb_metrics_spark_reader(spark, tmp_path):
    from otel_arrow_adapter_spark.sources import (
        encode_export_metrics_request,
        read_pb_metrics,
    )

    d = tmp_path / "metric_captures"
    d.mkdir()
    (d / "a.pb").write_bytes(encode_export_metrics_request(METRIC_SAMPLE))
    (d / "bad.pb").write_bytes(b"\x0a\xff\xff\x7fgarbage")

    rows = read_pb_metrics(spark, str(d)).collect()
    good = [r for r in rows if r["res_idx"] >= 0]
    bad = [r for r in rows if r["res_idx"] == -1]
    assert {r["metric_type"] for r in good} == {"gauge", "sum", "histogram"}
    assert len(bad) == 1 and "__decode_error__" in bad[0]["metric_name"]


GOLDEN_SHA256 = {
    "logs": "4f49d71b8aeef52dbdfd46f8f2d2b862d3a68f81749b5cc881514071ce3b7ea1",
    "trace": "b1d15abbe14ec82b26dfa30d0ba2d7d911d7c6753398fa6b8434e4075ead9045",
    "metrics": "8988981d15950b5eb38a607fcfce03843aa3152f7ec6dce496bf5faf0c41b5aa",
}


def test_pb_encoders_golden_bytes():
    """The three encoders' exact bytes over fixed fixtures: one scope per
    resource, all five metric families, record attrs, span events and
    links, and both id kinds (16-byte trace ids, 8-byte span ids). A
    refactor of the envelope writer must leave these bytes unchanged."""
    import hashlib

    from otel_arrow_adapter_spark.sources import (
        encode_export_logs_request,
        encode_export_metrics_request,
        encode_export_trace_request,
    )

    encoded = {
        "logs": encode_export_logs_request(SAMPLE),
        "trace": encode_export_trace_request(SPAN_SAMPLE),
        "metrics": encode_export_metrics_request(METRIC_SAMPLE + EXP_HIST_SAMPLE),
    }
    assert {k: hashlib.sha256(v).hexdigest() for k, v in encoded.items()} == GOLDEN_SHA256


def test_pb_encoders_keep_scope_and_metric_identity():
    """Records of one resource keep their own scope (a, b, none) through
    encode∘decode, metrics included, and points of one metric name that
    differ in unit, temporality or monotonic flag keep their own values."""
    from otel_arrow_adapter_spark.sources import (
        decode_export_logs_request,
        decode_export_metrics_request,
        decode_export_trace_request,
        encode_export_logs_request,
        encode_export_metrics_request,
        encode_export_trace_request,
    )

    scopes = ["a", "b", None, "a"]
    logs = decode_export_logs_request(encode_export_logs_request(
        [{"res_idx": 0, "scope_name": s, "body": str(i)} for i, s in enumerate(scopes)]
    ))
    assert [(r["body"], r["scope_name"]) for r in logs] == [
        (str(i), s) for i, s in enumerate(scopes)
    ]
    spans = decode_export_trace_request(encode_export_trace_request(
        [{"res_idx": 0, "scope_name": s, "name": str(i)} for i, s in enumerate(scopes)]
    ))
    assert [(r["name"], r["scope_name"]) for r in spans] == [
        (str(i), s) for i, s in enumerate(scopes)
    ]

    points = [
        {"scope_name": "m", "metric_name": "reqs", "metric_type": "sum",
         "metric_unit": "1", "temporality": 2, "is_monotonic": True, "value_int": 1},
        {"scope_name": "m", "metric_name": "reqs", "metric_type": "sum",
         "metric_unit": "ms", "temporality": 2, "is_monotonic": True, "value_int": 2},
        {"scope_name": "m", "metric_name": "reqs", "metric_type": "sum",
         "metric_unit": "1", "temporality": 1, "is_monotonic": True, "value_int": 3},
        {"scope_name": "m", "metric_name": "reqs", "metric_type": "sum",
         "metric_unit": "1", "temporality": 2, "is_monotonic": False, "value_int": 4},
        {"scope_name": None, "metric_name": "reqs", "metric_type": "sum",
         "metric_unit": "1", "temporality": 2, "is_monotonic": True, "value_int": 5},
    ]
    rows = decode_export_metrics_request(encode_export_metrics_request(points))
    got = sorted(
        (r["value_int"], r["scope_name"], r["metric_unit"], r["temporality"], r["is_monotonic"])
        for r in rows
    )
    assert got == [
        (1, "m", "1", 2, True),
        (2, "m", "ms", 2, True),
        (3, "m", "1", 1, True),
        (4, "m", "1", 2, None),  # an unset flag is absent on the wire
        (5, None, "1", 2, True),
    ]
