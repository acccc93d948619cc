"""Structured Streaming variant: micro-batch routing with checkpoint (ack
analog) and watermarked windowed counts."""

import pyspark.sql.functions as F

from otel_arrow_adapter_spark.plans import build_labeled
from otel_arrow_adapter_spark.streaming.stream import (
    read_transcript_stream,
    start_routed_stream,
    windowed_sink_counts,
)


def test_stream_routes_all_rows(spark, transcripts, small_catalog, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    transcripts.repartition(4).write.parquet(src)

    stream = read_transcript_stream(spark, src, max_files=2)
    labeled = build_labeled(stream, small_catalog, id_mode="hash")
    q = start_routed_stream(labeled, out, ckpt, trigger_sec=1)
    q.processAllAvailable()
    q.stop()

    routed = spark.read.parquet(f"{out}/routed")
    assert routed.count() == transcripts.count()
    assert set(r.sink for r in routed.select("sink").distinct().collect()) == {
        "logs", "metrics", "traces", "quarantine"
    }
    # per-turn text preserved
    a = transcripts.select("conv_id", "turn_idx", "text")
    b = routed.select("conv_id", "turn_idx", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stream_windowed_counts(spark, transcripts, tmp_path):
    src = str(tmp_path / "src2")
    transcripts.repartition(2).write.parquet(src)
    stream = read_transcript_stream(spark, src)
    agg = windowed_sink_counts(
        build_labeled(stream, id_mode="hash"), window="1 day", watermark="1 day"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wc")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("select sum(n_rows) as n from wc").collect()[0].n
    assert got == transcripts.count()


def test_stream_stateful_conversation_stats(spark, transcripts, small_catalog, tmp_path):
    """applyInPandasWithState: running per-conversation state survives
    micro-batch boundaries (maxFilesPerTrigger=1 forces several batches)."""
    from otel_arrow_adapter_spark.streaming.stream import conversation_stats_stateful

    src = str(tmp_path / "src3")
    transcripts.repartition(4).write.parquet(src)
    stream = read_transcript_stream(spark, src, max_files=1)
    stats = conversation_stats_stateful(build_labeled(stream, small_catalog, id_mode="hash"))
    q = stats.writeStream.format("memory").queryName("cs").outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    # last update per conversation = the complete stats
    final = spark.sql(
        """SELECT conv_id, max_by(n_turns, n_turns) AS n_turns FROM cs GROUP BY conv_id"""
    )
    expect = transcripts.groupBy("conv_id").count()
    joined = final.join(expect, "conv_id")
    bad = joined.where(F.col("n_turns") != F.col("count")).count()
    assert bad == 0
    assert final.count() == expect.count()


def test_stream_dictionary_deltas(spark, transcripts, tmp_path):
    """E4: only first-seen dictionary entries are transmitted per
    micro-batch (maxFilesPerTrigger=1 forces several); accumulating the
    deltas reconstructs the full dictionary exactly once per value, with
    unique stable codes (consumer.go:192-203 accumulation contract)."""
    from otel_arrow_adapter_spark.streaming.stream import dictionary_delta_stream

    src = str(tmp_path / "src_dd")
    transcripts.repartition(4).write.parquet(src)
    stream = read_transcript_stream(spark, src, max_files=1)
    deltas = dictionary_delta_stream(stream.where(F.col("tool").isNotNull()), "tool")
    q = deltas.writeStream.format("memory").queryName("dd").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from dd").collect()
    tools = {
        r.tool
        for r in transcripts.where(F.col("tool").isNotNull()).select("tool").distinct().collect()
    }
    vals = [r.value for r in rows]
    assert sorted(vals) == sorted(tools)  # each value transmitted EXACTLY once
    codes = [r.code for r in rows]
    assert len(set(codes)) == len(codes)  # codes unique across buckets
    assert all((r.code >> 32) == r.bucket for r in rows)


def test_stream_dictionary_delta_stats(spark, transcripts, tmp_path):
    """A1 in the streaming path (VERDICT r4 next-round #7): the dictionary
    delta stream feeds the same ProducerStats surface as the batch
    encoders — entries added, batches produced, index-type widenings on a
    (deliberately tiny) u8-analog ladder across multi-batch state."""
    from otel_arrow_adapter_spark.plans.stats import ProducerStats
    from otel_arrow_adapter_spark.streaming.stream import (
        dict_stream_stats_sink,
        dictionary_delta_stream,
    )

    src = str(tmp_path / "src_dds")
    # stage the dictionary GROWTH across micro-batches: 2 tools, then 5,
    # then 10 — the stream is started once and fed between drains, so each
    # stage is its own micro-batch against accumulated state
    stages = [
        [f"tool-{i}" for i in range(2)],
        [f"tool-{i}" for i in range(5)],
        [f"tool-{i}" for i in range(10)],
    ]
    spark.createDataFrame([(t,) for t in stages[0]], "tool string").write.parquet(src)
    stream = spark.readStream.schema("tool string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    deltas = dictionary_delta_stream(stream, "tool", n_buckets=2)
    stats = ProducerStats()
    # widths (2, 4): a bucket passing 2 then 4 entries widens twice —
    # exercises the ladder without needing 256+ distinct values
    q = (
        deltas.writeStream.outputMode("append")
        .foreachBatch(dict_stream_stats_sink(stats, widths=(2, 4)))
        .start()
    )
    q.processAllAvailable()
    for stage in stages[1:]:
        spark.createDataFrame([(t,) for t in stage], "tool string").write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    q.stop()

    snap = stats.as_dict()
    assert snap["dictionary_entries_added"] == 10  # each tool counted once
    assert snap["batches_produced"] >= 2
    # 10 tools over 2 buckets with a (2, 4) ladder: buckets cross the
    # u8-analog boundary between batches -> widening; and exceed the
    # widest type -> overflow detected
    assert snap.get("dictionary_index_type_changed", 0) >= 1
    assert snap.get("dictionary_overflow_detected", 0) >= 1


def test_stream_dedup_first_seen(spark, tmp_path):
    """Cross-micro-batch exact dedup: each distinct text passes exactly
    once, keep-first across batches (arrival order) and min-doc_id within
    a batch — duplicates arriving in LATER micro-batches are dropped by
    the bucket-sharded fingerprint state."""
    from otel_arrow_adapter_spark.streaming.stream import dedup_stream

    src = str(tmp_path / "src_dedup")
    # batch 1: texts A (ids 5 and 2 — intra-batch dup, min id wins), B.
    # coalesce(1): each write must be ONE file — maxFilesPerTrigger=1 maps
    # files to micro-batches, and a multi-file write would split the
    # intra-batch dup across batches (turning the min-id tie-break into
    # arrival order; seen flaking under host load, where the 3-row frame
    # spread over several input partitions).
    spark.createDataFrame(
        [(5, "alpha text"), (2, "alpha text"), (3, "beta text")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    deduped = dedup_stream(stream, n_buckets=4)
    q = deduped.writeStream.format("memory").queryName("dq").outputMode("append").start()
    q.processAllAvailable()
    # batch 2: A again (cross-batch dup, dropped even though id=1 < 2), C
    spark.createDataFrame(
        [(1, "alpha text"), (9, "gamma text")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    # batch 3: whitespace variant of A — the normalized fingerprint makes
    # '  alpha   text ' the same doc, so it is dropped too
    spark.createDataFrame(
        [(7, "  alpha   text ")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from dq").collect()
    kept = {r.doc_id for r in rows}
    assert kept == {2, 3, 9}  # one per distinct text; A kept from batch 1 (id 2)
    assert len({r.fp for r in rows}) == len(rows) == 3


def test_stream_paced_replay(spark, tmp_path):
    """replay_timer.go analog: rows re-emit in original-timestamp order at
    ~1 tick/wall-second (speed-scaled), never all at once. With offsets
    {0,0,2,4}s and speed=2 the release ticks are {0,0,1,2}: the stream
    cannot finish faster than the highest tick's wall-second."""
    import datetime
    import time

    from otel_arrow_adapter_spark.streaming.stream import read_paced_replay

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        ("c0", 0, base),
        ("c0", 1, base),
        ("c1", 0, base + datetime.timedelta(seconds=2)),
        ("c1", 1, base + datetime.timedelta(seconds=4)),
    ]
    src = str(tmp_path / "capture")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp"
    ).write.parquet(src)

    released = []  # (wall_time, replay_tick, conv_id, turn_idx)

    def sink(batch_df, batch_id):
        now = time.monotonic()
        for r in batch_df.collect():
            released.append((now, r["replay_tick"], r["conv_id"], r["turn_idx"]))

    t0 = time.monotonic()
    q = read_paced_replay(spark, src, speed=2.0).writeStream.foreachBatch(sink).start()
    try:
        deadline = time.monotonic() + 60
        while len(released) < 4 and time.monotonic() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    elapsed = time.monotonic() - t0

    assert len(released) == 4, released
    # release ticks are the speed-scaled original offsets
    assert sorted((r[2], r[3], r[1]) for r in released) == [
        ("c0", 0, 0), ("c0", 1, 0), ("c1", 0, 1), ("c1", 1, 2),
    ]
    # pacing: ticks arrive in order, and tick 2 cannot arrive before the
    # rate source has emitted 3 wall-seconds of values
    by_tick = sorted(released, key=lambda r: r[0])
    assert [r[1] for r in by_tick] == sorted(r[1] for r in released)
    assert elapsed >= 2.0, elapsed


def test_paced_replay_feeds_full_pipeline(spark, small_catalog, tmp_path):
    """S6 x S5 integration: the timestamp-paced replay source drives the
    full parse->enrich->route stream; every capture row lands in a sink
    with per-turn text intact, released across multiple paced batches."""
    import datetime

    from otel_arrow_adapter_spark.streaming.stream import read_paced_replay

    base = datetime.datetime(2026, 1, 1)
    rows = [
        ("c0", 0, "user", 'ts_us=1 level=INFO msg="a" code=7', None, base),
        ("c0", 1, "tool", "name=latency_ms value=12 unit=ms", "tool-1",
         base + datetime.timedelta(seconds=1)),
        ("c1", 0, "tool", "span=0123456789abcdef parent=01234567 dur_ms=5",
         "tool-2", base + datetime.timedelta(seconds=2)),
        ("c1", 1, "user", "!!corrupt", None, base + datetime.timedelta(seconds=2)),
    ]
    src = str(tmp_path / "paced_src")
    out = str(tmp_path / "paced_out")
    ckpt = str(tmp_path / "paced_ckpt")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(src)

    stream = read_paced_replay(spark, src, speed=1.0).drop("replay_tick")
    labeled = build_labeled(stream, small_catalog, id_mode="hash")
    q = start_routed_stream(labeled, out, ckpt, trigger_sec=1)
    import time

    deadline = time.monotonic() + 60
    n = 0
    while n < 4 and time.monotonic() < deadline:
        time.sleep(1)
        try:
            n = spark.read.parquet(f"{out}/routed").count()
        except Exception:
            n = 0
    q.stop()
    routed = spark.read.parquet(f"{out}/routed")
    assert routed.count() == 4
    sinks = {r.sink: r["cnt"] for r in routed.groupBy("sink").agg(F.count("*").alias("cnt")).collect()}
    assert sinks == {"logs": 1, "metrics": 1, "traces": 1, "quarantine": 1}


def test_stream_session_windows(spark, transcripts, tmp_path):
    """Native session_window sessionization: sessions cover every turn
    exactly once, per-conv sessions are disjoint and separated by more
    than the gap, and a bridging late turn merges fragments (engine
    semantics across micro-batches)."""
    from otel_arrow_adapter_spark.streaming.stream import session_windowed_activity

    src = str(tmp_path / "sess_src")
    transcripts.repartition(3).write.parquet(src)
    stream = read_transcript_stream(spark, src, max_files=1)  # several batches
    # files arrive in arbitrary ts order: the watermark must cover the
    # whole dataset span or cross-batch "late" turns are dropped
    agg = session_windowed_activity(
        build_labeled(stream, id_mode="hash"), gap="10 minutes", watermark="3650 days"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("select * from sess").collect()
    assert sum(r.n_turns for r in got) == transcripts.count()
    by_conv = {}
    for r in got:
        assert r.session_start < r.session_end
        assert 1 <= r.n_sinks <= 4
        by_conv.setdefault(r.conv_id, []).append((r.session_start, r.session_end))
    for spans in by_conv.values():
        spans.sort()
        for (_, e0), (s1, _) in zip(spans, spans[1:]):
            # session end = last event + gap; a later session starting at or
            # before that end would have been merged by the engine
            assert s1 > e0


def test_stream_dedup_ttl_evicts_idle_fingerprints(spark, tmp_path):
    """TTL-bounded dedup state: a fingerprint idle longer than the TTL is
    forgotten, so a late duplicate is RE-admitted (the exactness/state
    trade); within the TTL the duplicate is still dropped."""
    import time

    from otel_arrow_adapter_spark.streaming.stream import dedup_stream

    src = str(tmp_path / "src_dedup_ttl")
    spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    # 50 ms TTL: anything not seen again within 50 ms is evicted
    deduped = dedup_stream(stream, n_buckets=2, ttl_minutes=0.05 / 60)
    q = deduped.writeStream.format("memory").queryName("dqt").outputMode("append").start()
    q.processAllAvailable()
    time.sleep(0.3)  # let the fingerprints go idle past the TTL
    spark.createDataFrame(
        [(9, "alpha text")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    kept = {r.doc_id for r in spark.sql("select * from dqt").collect()}
    # id 9 passes: its fingerprint was evicted between batches
    assert kept == {1, 2, 9}


def test_stream_late_data_dropped_beyond_watermark(spark, tmp_path):
    """Watermark semantics end-to-end: after the watermark advances, an
    event older than (max event time - watermark) is DROPPED from the
    windowed aggregation, while an in-watermark event still lands."""
    import datetime as dt

    src = str(tmp_path / "late_src")

    def write_batch(rows, part):
        df = spark.createDataFrame(
            [
                (f"c{i}", 0, "tool", "x level=INFO msg=\"m\"", "tool-1",
                 dt.datetime(2025, 1, 1, h, mi))
                for i, (h, mi) in enumerate(rows, start=part * 100)
            ],
            schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    # batch 1: one row at 00:05 and one at 10:00 -> watermark after this
    # batch = 10:00 - 1h = 09:00, so the 00:00 window is finalized
    write_batch([(0, 5), (10, 0)], part=0)
    stream = read_transcript_stream(spark, src, max_files=1)
    agg = windowed_sink_counts(
        build_labeled(stream, id_mode="hash"), window="1 hour", watermark="1 hour"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_wc")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    # batch 2: a LATE row at 00:30 (behind the 09:00 watermark -> dropped)
    # and a fresh row at 10:30 (inside the open 10:00 window -> counted)
    write_batch([(0, 30), (10, 30)], part=1)
    q.processAllAvailable()
    q.stop()

    got = spark.sql(
        "select window_start, max(n_rows) as n from late_wc group by window_start"
    ).collect()
    by_window = {r.window_start: r.n for r in got}
    w00 = dt.datetime(2025, 1, 1, 0, 0)
    w10 = dt.datetime(2025, 1, 1, 10, 0)
    assert by_window[w00] == 1, "late row behind the watermark must be dropped"
    assert by_window[w10] == 2, "in-watermark row must be aggregated"


def test_stream_cms_merges_to_batch_sketch(spark, transcripts, tmp_path):
    """The accumulated per-micro-batch CMS must equal the whole-input
    batch sketch cell-for-cell (the merge law, live), and its point
    estimates must upper-bound exact counts."""
    from otel_arrow_adapter_spark.functions.sketches import count_min_sketch
    from otel_arrow_adapter_spark.streaming.stream import cms_stream_sink

    src = str(tmp_path / "cms_src")
    transcripts.repartition(4).write.parquet(src)
    stream = read_transcript_stream(spark, src, max_files=1)
    acc = {}
    q = (
        stream.writeStream.foreachBatch(cms_stream_sink(acc, key_col="tool"))
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    whole = {
        (r.row, r.col): r.c
        for r in count_min_sketch(transcripts.select("tool"), key_col="tool").collect()
    }
    assert acc == whole
    exact = {
        r.tool: r.n
        for r in transcripts.where(F.col("tool").isNotNull())
        .groupBy("tool").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    from otel_arrow_adapter_spark.functions.sketches import cms_lookup
    sketch = count_min_sketch(transcripts.select("tool"), key_col="tool")
    keys = transcripts.select("tool").distinct()
    est = {r.tool: r.cms_n for r in cms_lookup(sketch, keys, key_col="tool").collect()}
    assert all(est[t] >= n for t, n in exact.items())


def test_stream_cms_sink_idempotent_on_replayed_batch(spark, transcripts):
    """foreachBatch is at-least-once: re-delivering the SAME batch_id must
    not double-merge (ADVICE r5) while distinct ids still accumulate."""
    from otel_arrow_adapter_spark.streaming.stream import cms_stream_sink

    acc = {}
    sink = cms_stream_sink(acc, key_col="tool")
    batch = transcripts.select("tool")
    sink(batch, 0)
    once = dict(acc)
    assert once  # sketch cells were merged
    sink(batch, 0)  # replay of the same micro-batch
    assert acc == once
    sink(batch, 1)  # a genuinely new batch still merges
    assert acc == {k: 2 * v for k, v in once.items()}
