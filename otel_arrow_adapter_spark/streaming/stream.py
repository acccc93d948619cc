"""Structured Streaming variant of the pipeline.

The reference's transport is a long-lived gRPC stream of batches with acks
(SURVEY.md §2.9); the Spark-native equivalent is Structured Streaming:
micro-batch = BatchArrowRecords, checkpoint = ack, watermark = the
reference's pacing/replay timer (file_reader.go replay source ~ file
streaming source here).

Streaming constraints shape the operator choices: a stream is labeled with
``plans.build_labeled(stream, catalog, id_mode="hash")``, because
content-hash surrogate IDs are a pure projection while dense ranks need a
global aggregate, which streaming forbids; and per-sink counts become a
watermarked windowed aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def read_transcript_stream(spark: SparkSession, input_path: str, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_path)
    )


def read_paced_replay(
    spark: SparkSession,
    input_path: str,
    speed: float = 1.0,
    ts_col: str = "ts",
) -> DataFrame:
    """Timestamp-paced capture replay — the file receiver's replay timer
    (/root/reference/collector/receiver/filereceiver/replay_timer.go):
    rows re-emit at their ORIGINAL inter-arrival spacing (divided by
    ``speed``), not as fast as files can be listed.

    Spark-first shape: no sleeps, no state. Every capture row gets a
    release tick = floor(original offset sec / speed); the rate source
    emits exactly one ``value`` per wall-second, and a stream-static
    EQUI-join on value == tick releases each tick's rows in the wall-second
    micro-batch bearing its number. Exactly-once comes free (each tick
    value occurs once in the rate stream); the join is a broadcast of the
    1-row/sec stream side against the static capture scan. At scale, write
    the capture partitioned by a tick bucket so each micro-batch's scan
    prunes to its slice instead of rescanning the capture.

    The emitted columns are the capture's own; ``replay_tick`` carries the
    wall-second the row was released on (observable pacing, tested)."""
    static = spark.read.parquet(input_path)
    # base epoch computed ENGINE-side (unix_micros under the session tz) —
    # a Python-naive datetime's .timestamp() would re-interpret it in the
    # host-local zone and shift every tick by the tz offset
    base_us = static.agg(
        F.min(F.unix_micros(F.col(ts_col).cast("timestamp")))
    ).first()[0]
    ticked = static.withColumn(
        "replay_tick",
        F.floor(
            (F.unix_micros(F.col(ts_col).cast("timestamp")) - F.lit(base_us))
            / (1_000_000.0 * speed)
        ).cast("long"),
    )
    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    return (
        rate.withColumnRenamed("value", "replay_tick")
        .drop("timestamp")
        .join(ticked, "replay_tick")
    )


def windowed_sink_counts(labeled: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """A4 streaming form: per (event-time window, sink) counts with late-data
    tolerance via watermark."""
    return (
        labeled.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "sink")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.approx_count_distinct("conv_id").alias("n_convs"))
        .select(
            F.col("window.start").alias("window_start"),
            "sink",
            "n_rows",
            "n_convs",
        )
    )


def start_routed_stream(
    labeled: DataFrame, out_dir: str, checkpoint: str, trigger_sec: int = 5
):
    """Fan-out sink write with exactly-once checkpointing — the ack analog.
    Dynamic partitionBy(sink) works in streaming parquet sinks."""
    return (
        labeled.writeStream.format("parquet")
        .option("path", f"{out_dir}/routed")
        .option("checkpointLocation", checkpoint)
        .partitionBy("sink")
        .trigger(processingTime=f"{trigger_sec} seconds")
        .outputMode("append")
        .start()
    )


STATE_SCHEMA = "n_turns long, n_quarantine long, last_signal string, n_segments long"
STATS_SCHEMA = (
    "conv_id string, n_turns long, n_quarantine long, n_segments long, last_signal string"
)


def conversation_stats_stateful(labeled: DataFrame, timeout_minutes: int | None = None) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-conversation
    running stats carried ACROSS micro-batches — the streaming form of the
    reference's running decode state (``lastID += delta`` held per stream,
    /root/reference/pkg/otel/common/otlp/attributes.go:98-104) and its
    per-stream ProducerStats counters (pkg/otel/stats/stats.go:26-61).

    State per conv_id: turn count, quarantine count, last signal_type and
    signal-segment count (W3 change detection, stateful). Emits the updated
    row per conversation per micro-batch. Pass ``timeout_minutes`` in
    production so state expires after processing-time inactivity (bounded
    state — the 10^12-turn requirement: memory scales with ACTIVE
    conversations only); the default NoTimeout keeps batch-style runs
    (processAllAvailable) from spinning timeout-only micro-batches forever.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n_turns, n_quar, last_sig, n_seg = (
            state.get if state.exists else (0, 0, None, 0)
        )
        for pdf in pdfs:
            pdf = pdf.sort_values("turn_idx")
            n_turns += len(pdf)
            n_quar += int((pdf["sink"] == "quarantine").sum())
            for sig in pdf["signal_type"]:
                if sig != last_sig:
                    n_seg += 1
                    last_sig = sig
        state.update((n_turns, n_quar, last_sig, n_seg))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n_turns],
                "n_quarantine": [n_quar],
                "n_segments": [n_seg],
                "last_signal": [last_sig],
            }
        )

    return (
        labeled.select("conv_id", "turn_idx", "signal_type", "sink")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=STATS_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_minutes is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


DICT_STATE_SCHEMA = "known array<string>"
DICT_DELTA_SCHEMA = "bucket int, value string, code long"


def dictionary_delta_stream(values: DataFrame, column: str, n_buckets: int = 16) -> DataFrame:
    """E4 — dictionary DELTA transmission, the reference's
    ``ipc.WithDictionaryDeltas(true)`` (producer.go:371-381): a long-lived
    stream sends only the dictionary entries FIRST SEEN in each batch; the
    consumer accumulates them across batches (consumer.go:192-203).

    Streaming form (applyInPandasWithState): state per hash bucket = the
    values already transmitted; each micro-batch emits only the new ones,
    each with a stable code assigned at first sight
    (code = bucket << 32 | arrival-seq within bucket — the same windowless
    id discipline as assign_row_ids). Bucketing shards both the state and
    the code space across executors, so no task ever owns the whole
    dictionary; at 10^12 rows state size is O(distinct values), exactly
    the reference's per-stream dictionary memory."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        known = list(state.get[0]) if state.exists else []
        known_set = set(known)
        new_vals = []
        for pdf in pdfs:
            for v in pdf[column]:
                if v is not None and v not in known_set:
                    known_set.add(v)
                    known.append(v)
                    new_vals.append(v)
        if new_vals:
            state.update((known,))
        base = len(known) - len(new_vals)
        bucket = key[0]
        yield pd.DataFrame(
            {
                "bucket": [bucket] * len(new_vals),
                "value": new_vals,
                "code": [(bucket << 32) | (base + i) for i in range(len(new_vals))],
            }
        )

    bucketed = values.select(
        F.pmod(F.xxhash64(F.col(column)), F.lit(n_buckets)).cast("int").alias("bucket"),
        F.col(column),
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=DICT_DELTA_SCHEMA,
        stateStructType=DICT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dict_stream_stats_sink(stats, widths: tuple[int, ...] = (256, 65536, 1 << 32)):
    """ProducerStats wiring for ``dictionary_delta_stream`` — the streaming
    path now feeds the SAME counter surface the batch encoders do
    (plans/stats.py; reference counters at
    /root/reference/pkg/otel/stats/stats.go:26-61).

    Returns a ``foreachBatch`` callable. Per micro-batch it increments
    ``batches_produced`` and ``dictionary_entries_added`` (= first-seen
    values this batch, the delta rows themselves), and derives each
    bucket's dictionary INDEX TYPE from its max in-bucket code sequence
    against the ``widths`` ladder (u8 -> u16 -> u32): a bucket crossing a
    boundary counts ``dictionary_index_type_changed`` (stats.go:41), and a
    bucket exceeding the widest type counts ``dictionary_overflow_detected``
    (stats.go:42's overflow fallback signal). The per-batch aggregation is
    one O(buckets) collect — control-plane, same discipline as the ledger."""

    names = ["u8", "u16", "u32"][: len(widths)]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        per_bucket = (
            batch_df.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_new"),
                F.max(F.col("code").bitwiseAND(F.lit((1 << 32) - 1))).alias("max_seq"),
            )
            .collect()
        )
        if not per_bucket:
            return
        stats.inc("batches_produced")
        for r in per_bucket:
            stats.inc("dictionary_entries_added", r["n_new"])
            # dictionary size after this batch = max_seq + 1 entries
            size = r["max_seq"] + 1
            itype = next(
                (t for t, w in zip(names, widths) if size <= w), None
            )
            if itype is None:
                stats.inc("dictionary_overflow_detected")
                itype = names[-1]
            stats.note_index_type(f"dict:bucket={r['bucket']}", itype)

    return sink


DEDUP_STATE_SCHEMA = "seen array<string>, last_seen array<double>"
DEDUP_OUT_SCHEMA = "bucket int, doc_id long, fp string"


def dedup_stream(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 n_buckets: int = 16, ttl_minutes: float | None = None) -> DataFrame:
    """Cross-micro-batch EXACT dedup at ingestion — the streaming form of
    the batch keep-first rule (exact_duplicates / clean_corpus): only the
    FIRST occurrence of each text fingerprint ever passes; later copies are
    dropped in whatever micro-batch they arrive, hours or days later.

    Shape: the fingerprint (md5 of normalized text) is a JVM-side column
    expression computed BEFORE the stateful operator; state per hash bucket
    (applyInPandasWithState, same sharding discipline as
    ``dictionary_delta_stream``) = the fingerprints already admitted, so no
    task ever owns the whole seen-set and state is O(distinct docs) split
    ``n_buckets`` ways across executors. Within one micro-batch, ties break
    to the smallest ``id_col`` (deterministic, matching the batch
    groupBy(fp).min(struct) keep-first); across batches, arrival order
    wins — exactly the reference's first-seen dictionary semantics applied
    to whole payloads.

    ``ttl_minutes`` bounds state for UNBOUNDED streams: each admitted
    fingerprint remembers its last-seen processing time (refreshed when a
    duplicate is suppressed) and is pruned at the next update once idle
    longer than the TTL — the standard exactness/state trade for
    ingestion dedup, where duplicates overwhelmingly arrive close
    together (retries, replays, crawler revisits). Every bucket's state
    is thus O(fingerprints seen within its last active TTL window), never
    O(stream history); ``None`` keeps exact forever-dedup. Pruning is
    update-time only (no GroupStateTimeout: a ProcessingTimeTimeout
    makes batch-style ``processAllAvailable`` drains spin timeout-only
    micro-batches forever — same pitfall documented on
    ``conversation_stats_stateful``), so a bucket that goes idle holds
    its last pruned window until its next row."""
    import time  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions.text import fingerprint

    ttl_s = None if ttl_minutes is None else ttl_minutes * 60.0

    def update(key, pdfs, state: GroupState):
        now = time.time()
        if state.exists:
            fps, stamps = state.get
            seen = {
                f: t
                for f, t in zip(fps, stamps)
                if ttl_s is None or now - t <= ttl_s
            }
        else:
            seen = {}
        n_before = len(seen)
        refreshed = False
        out_ids: list[int] = []
        out_fps: list[str] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(id_col)
            for i, fp in zip(pdf[id_col], pdf["fp"]):
                if fp not in seen:
                    seen[fp] = now
                    out_ids.append(int(i))
                    out_fps.append(fp)
                elif ttl_s is not None:
                    seen[fp] = now  # a suppressed duplicate keeps it hot
                    refreshed = True
        if len(seen) != n_before or refreshed:
            state.update((list(seen.keys()), list(seen.values())))
        yield pd.DataFrame(
            {"bucket": [key[0]] * len(out_ids), "doc_id": out_ids, "fp": out_fps}
        )

    bucketed = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        fingerprint(F.col(text_col)).alias("fp"),
    ).withColumn("bucket", F.pmod(F.xxhash64(F.col("fp")), F.lit(n_buckets)).cast("int"))
    return bucketed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_windowed_activity(
    labeled: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time sessionization with the native ``session_window`` —
    the streaming form of the batch gap-island sessionizer
    (events_sessionize): per (conv_id, session) turn counts, signal
    spread, and exact session bounds.

    Unlike the batch window (which needs the whole conversation sorted),
    the engine merges session fragments ACROSS micro-batches in the
    state store and the watermark bounds both late-data tolerance and
    state size — per-key state is O(open sessions within the watermark
    horizon), never O(stream length). Out-of-order turns that bridge two
    provisional sessions collapse them into one, exactly like the batch
    semantics.

    Returns (session_start, session_end, conv_id, n_turns, n_sinks).
    """
    return (
        labeled.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.approx_count_distinct("sink").alias("n_sinks"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "conv_id",
            "n_turns",
            "n_sinks",
        )
    )


def cms_stream_sink(acc: dict, key_col: str = "tool", depth: int = 4, width: int = 256):
    """Streaming heavy-hitter monitor: a ``foreachBatch`` callable that
    builds a count-min sketch (functions/sketches.py) over each
    micro-batch's ``key_col`` and MERGES it into ``acc`` ((row, col) ->
    count) by plain addition — the CMS merge law means the accumulated
    sketch is exactly the one a single batch pass over the whole stream
    would build (pytest-asserted). Driver state is O(depth*width)
    regardless of stream length or key cardinality; the per-batch
    collect moves at most depth*width rows — control-plane, the same
    discipline as the ledger and dict_stream_stats_sink.

    foreachBatch is at-least-once: a recovered/retried micro-batch is
    re-delivered WITH THE SAME batch_id, so already-merged ids are
    skipped (closure-local ``done`` set, keeping ``acc`` purely
    (row, col) -> count) — without the guard a replayed batch would be
    double-counted and the merge-law equality above would silently
    break (ADVICE r5)."""
    from ..functions.sketches import count_min_sketch

    done: set[int] = set()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in done:
            return
        rows = count_min_sketch(
            batch_df.select(key_col), key_col=key_col, depth=depth, width=width
        ).collect()
        for r in rows:
            key = (r["row"], r["col"])
            acc[key] = acc.get(key, 0) + r["c"]
        done.add(batch_id)

    return sink


