"""Round-trip equivalence — the backbone contract of the reference
(docs/validation_process.md:23-32, assert.Equiv pkg/otel/assert/equiv.go):
route(parse(x)) unioned back must equal x on (conv_id, turn_idx, text),
order-insensitively, and per-turn text must match under stable ordering."""

import pyspark.sql.functions as F
import pytest
from conftest import no_new_persistent_rdds

from otel_arrow_adapter_spark.operators import reconstruct_turns
from otel_arrow_adapter_spark.operators.normalize import stable_turn_order
from otel_arrow_adapter_spark.plans import pipeline_sinks, run_pipeline


def _roundtrip_diff(original, reconstructed):
    a = original.select("conv_id", "turn_idx", "text")
    b = reconstructed.select("conv_id", "turn_idx", "text")
    return a.exceptAll(b).count() + b.exceptAll(a).count()


@pytest.mark.parametrize("source", ["events", "synth"])
def test_route_roundtrip(spark, transcripts, synth_transcripts, small_catalog, tmp_path, source):
    t = transcripts if source == "events" else synth_transcripts
    out = str(tmp_path / f"out_{source}")
    counts = run_pipeline(spark, t, small_catalog, out, run_id=f"t-{source}")
    sinks = pipeline_sinks(spark, out)
    rt = reconstruct_turns(sinks)
    assert _roundtrip_diff(t, rt) == 0
    # per-sink counts partition the input exactly
    total = {r["sink"]: r["n_rows"] for r in counts.collect()}
    assert sum(total.values()) == t.count()
    assert min(total.values()) > 0  # every sink exercised


def test_per_turn_text_equality_under_stable_order(spark, transcripts, small_catalog, tmp_path):
    """north_rule invariant: per-turn text equality under
    Window.partitionBy(conv_id).orderBy(turn_idx)."""
    out = str(tmp_path / "out_order")
    run_pipeline(spark, transcripts, small_catalog, out, run_id="t-order")
    sinks = pipeline_sinks(spark, out)
    rt = stable_turn_order(reconstruct_turns(sinks)).select("conv_id", "turn_order", "text")
    orig = stable_turn_order(transcripts).select("conv_id", "turn_order", "text")
    joined = orig.alias("o").join(rt.alias("r"), ["conv_id", "turn_order"], "full")
    mismatches = joined.where(
        ~F.col("o.text").eqNullSafe(F.col("r.text"))
    ).count()
    assert mismatches == 0


def test_resumable_buckets_no_loss_no_dupes(spark, transcripts, small_catalog, tmp_path, monkeypatch):
    """F4 protocol: bucketed run, simulated restart -> same result, done
    buckets skipped — and ALL buckets processed in ONE input pass (one
    dynamic-partition write, never a per-bucket rescan of the source)."""
    import otel_arrow_adapter_spark.plans.pipeline as pmod

    calls = []
    real_write = pmod.write_routed
    monkeypatch.setattr(
        pmod, "write_routed", lambda *a, **kw: (calls.append(1), real_write(*a, **kw))[1]
    )
    out = str(tmp_path / "out_resume")
    run_pipeline(spark, transcripts, small_catalog, out, run_id="r1", n_buckets=4)
    assert len(calls) == 1  # single-pass: one write for all 4 buckets
    sinks = pipeline_sinks(spark, out)
    assert _roundtrip_diff(transcripts, reconstruct_turns(sinks)) == 0
    # restart: everything already done -> ledger skip, output unchanged
    from otel_arrow_adapter_spark.plans.ledger import Ledger

    led = Ledger(f"{out}/_ledger")
    assert len(led.done_keys()) == 4
    run_pipeline(spark, transcripts, small_catalog, out, run_id="r2", n_buckets=4, resume=True)
    assert len(calls) == 1  # fully-done resume triggers no write at all
    sinks2 = pipeline_sinks(spark, out)
    assert _roundtrip_diff(transcripts, reconstruct_turns(sinks2)) == 0
    # partial restart: forget one bucket -> exactly one more write, only
    # that bucket's rows re-marked done, round-trip still exact
    rows = [r for r in open(f"{out}/_ledger/ledger.jsonl")]
    with open(f"{out}/_ledger/ledger.jsonl", "w") as f:
        f.writelines(r for r in rows if '"partition_key": "bucket=2"' not in r)
    run_pipeline(spark, transcripts, small_catalog, out, run_id="r3", n_buckets=4, resume=True)
    assert len(calls) == 2
    assert _roundtrip_diff(transcripts, reconstruct_turns(pipeline_sinks(spark, out))) == 0
    # ProducerStats batch counters landed in the ledger (stats.go:29-34
    # analog): the first full run produced one batch per (bucket, sink)
    import json as _json

    stat_rows = [
        _json.loads(line)
        for line in open(f"{out}/_ledger/ledger.jsonl")
        if '"partition_key": "producer_stats"' in line
    ]
    assert stat_rows, "producer_stats ledger row missing"
    first = stat_rows[0]["metrics"]  # full r1 run: 4 buckets x 4 sinks
    assert first == {
        "logs_batches_produced": 4,
        "metrics_batches_produced": 4,
        "traces_batches_produced": 4,
        "quarantine_batches_produced": 4,
    }
    # the partial r3 resume produced batches for ONE bucket only
    assert all(v == 1 for v in stat_rows[-1]["metrics"].values())


def test_corrupt_rows_quarantined_not_crashed(spark, small_catalog, tmp_path):
    """Chaos analog of MixUpArrowRecords (pkg/otel/common/test_utils.go:28):
    garbage text must land in quarantine, never raise."""
    df = spark.createDataFrame(
        [
            ("c", 0, "user", "", None, None),
            ("c", 1, "user", "span=zz parent=yy dur_ms=x", None, None),
            ("c", 2, "user", "ts_us=notanumber level=!", None, None),
            ("c", 3, "user", "name= value=", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = str(tmp_path / "out_chaos")
    counts = run_pipeline(spark, df, small_catalog, out, run_id="chaos")
    total = {r["sink"]: r["n_rows"] for r in counts.collect()}
    assert total["quarantine"] == 4


def test_salted_repartition_same_result(spark, synth_transcripts, small_catalog, tmp_path):
    """north_rule skew handling: salted repartition on (conv_id, salt) must
    not change any result — ordering is restored by windows within conv_id,
    never assumed from partition layout."""
    from otel_arrow_adapter_spark.plans import build_labeled

    plain = build_labeled(synth_transcripts, small_catalog).select(
        "conv_id", "turn_idx", "sink", "text"
    )
    salted = build_labeled(synth_transcripts, small_catalog, salt_buckets=8).select(
        "conv_id", "turn_idx", "sink", "text"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    # and the salted plan actually fans a hot conversation across tasks
    hot = synth_transcripts.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    n_parts = (
        synth_transcripts.where(F.col("conv_id") == hot["conv_id"])
        # explicit numPartitions: AQE would coalesce this tiny fixture into
        # one partition and hide the fan-out we're asserting
        .repartition(8, F.col("conv_id"), F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(8)))
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert n_parts > 1


def test_decode_chaos_quarantines_not_crashes(spark, transcripts, small_catalog, tmp_path):
    """MixUpArrowRecords analog (reference test_utils.go:28): corrupt rows
    injected into the routed sinks must land in decode-quarantine, never
    raise, and the remaining rows must still reconstruct."""
    from otel_arrow_adapter_spark.operators.reconstruct import validate_sinks

    out = str(tmp_path / "out_chaos")
    run_pipeline(spark, transcripts, small_catalog, out, run_id="chaos")
    sinks = pipeline_sinks(spark, out)
    # corrupt: truncate span ids on some trace rows, blow severity on logs
    traces = sinks["traces"].withColumn(
        "span_hex",
        F.when(F.col("turn_idx") % 7 == 0, F.substring("span_hex", 1, 6)).otherwise(
            F.col("span_hex")
        ),
    )
    logs = sinks["logs"].withColumn(
        "severity_number",
        F.when(F.col("turn_idx") % 11 == 0, F.lit(99)).otherwise(F.col("severity_number")),
    )
    chaotic = {**sinks, "traces": traces, "logs": logs}
    valid, dq = validate_sinks(chaotic)
    bad = {r["sink"]: r["cnt"] for r in dq.groupBy("sink").agg(F.count("*").alias("cnt")).collect()}
    assert bad.get("traces", 0) > 0 and bad.get("logs", 0) > 0
    errs = {r["decode_error"] for r in dq.select("decode_error").distinct().collect()}
    assert errs == {"bad_span_id_length", "severity_out_of_range"}
    # valid + quarantined partitions each sink exactly
    for name in ("traces", "logs"):
        assert valid[name].count() + bad[name] == chaotic[name].count()
    # untouched sinks still reconstruct verbatim
    assert valid["metrics"].count() == sinks["metrics"].count()


def test_text_suppressed_for_rebuildable_rows(spark, transcripts, synth_transcripts, small_catalog, tmp_path):
    """Payload-level non-default suppression: in-grammar rows store NO raw
    text (regenerated from typed columns on read); quarantine keeps it.
    The round-trip equality tests above prove the regeneration is exact."""
    for name, t in (("ev", transcripts), ("sy", synth_transcripts)):
        out = str(tmp_path / f"sup_{name}")
        run_pipeline(spark, t, small_catalog, out, run_id=f"sup-{name}", suppress_text=True)
        raw = spark.read.parquet(f"{out}/routed")
        stored = raw.where(F.col("text").isNotNull())
        n_bad = stored.where(F.col("sink") != "quarantine").count()
        assert n_bad == 0, f"{name}: {n_bad} rebuildable rows stored raw text"
        assert stored.where(F.col("sink") == "quarantine").count() > 0
        # suppression must not cost round-trip exactness
        assert _roundtrip_diff(t, reconstruct_turns(pipeline_sinks(spark, out))) == 0


def test_sort_strategies_write_identical_rows(spark, transcripts, small_catalog, tmp_path):
    """O1-O3 strategy plurality: every sort-for-compression strategy writes
    the same row set (ordering is a storage concern only); sizes are
    measured by bench.py into BENCH/BASELINE.md."""
    from otel_arrow_adapter_spark.operators.route import SORT_STRATEGIES, write_routed
    from otel_arrow_adapter_spark.plans import build_labeled

    labeled = build_labeled(transcripts, small_catalog)
    outs = {}
    for strat in SORT_STRATEGIES:
        write_routed(labeled, str(tmp_path), subdir=f"routed_{strat}", sort_strategy=strat)
        outs[strat] = spark.read.parquet(f"{tmp_path}/routed_{strat}")
    base = outs["default"]
    n = base.count()
    for strat, df in outs.items():
        assert df.count() == n
        assert base.exceptAll(df).count() == 0 and df.exceptAll(base).count() == 0


def test_schema_change_stream_retirement(spark, tmp_path):
    """R4: a batch with a new schema opens a NEW schema_id stream dir; the
    old stream is retired untouched; same-schema batches (regardless of
    field order) append to the same stream; the reader unions by name."""
    from otel_arrow_adapter_spark.operators.schema_evo import (
        canonical_schema_id,
        read_versioned,
        write_versioned,
    )

    v1 = spark.createDataFrame([("c", 0, "hello")], "conv_id string, turn_idx int, text string")
    v1b = v1.select("text", "conv_id", "turn_idx")  # field order must not matter
    v2 = spark.createDataFrame(
        [("d", 1, "hi", "tool-1")],
        "conv_id string, turn_idx int, text string, tool string",
    )
    assert canonical_schema_id(v1) == canonical_schema_id(v1b)
    assert canonical_schema_id(v1) != canonical_schema_id(v2)

    out = str(tmp_path / "evo")
    sid1 = write_versioned(v1, out)
    import os

    files_before = set()
    for root, _, files in os.walk(f"{out}/versioned/schema_id={sid1}"):
        files_before |= {os.path.join(root, f) for f in files if f.endswith(".parquet")}
    sid2 = write_versioned(v2, out)
    assert sid1 != sid2
    # retirement: the old stream's files are untouched by the new stream
    files_after = set()
    for root, _, files in os.walk(f"{out}/versioned/schema_id={sid1}"):
        files_after |= {os.path.join(root, f) for f in files if f.endswith(".parquet")}
    assert files_before == files_after
    assert write_versioned(v1b, out) == sid1  # same schema -> same stream

    back = read_versioned(spark, out)
    assert back.count() == 3
    # v1 rows surface the v2-only column as null
    assert back.where(F.col("tool").isNull()).count() == 2


def test_versioned_streams_uri_out_dir(spark, tmp_path):
    """URI-safety (VERDICT r5 'What's missing' #3): with a file:// out_dir
    the whole write->read cycle must work — the read side used a local
    glob.glob that saw no matches for URI paths and raised
    FileNotFoundError on streams that exist; it now lists via the Hadoop
    FS like the write side's existence check."""
    from otel_arrow_adapter_spark.operators.schema_evo import (
        read_versioned,
        write_versioned,
    )

    out = f"file://{tmp_path}/evo_uri"
    v1 = spark.createDataFrame([("c", 0, "hello")], "conv_id string, turn_idx int, text string")
    v2 = spark.createDataFrame(
        [("d", 1, "hi", "tool-1")],
        "conv_id string, turn_idx int, text string, tool string",
    )
    sid1 = write_versioned(v1, out)
    sid2 = write_versioned(v2, out)
    assert sid1 != sid2
    back = read_versioned(spark, out)
    assert back.count() == 2
    assert back.where(F.col("tool").isNull()).count() == 1
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_versioned(spark, f"file://{tmp_path}/evo_uri_missing")


def test_compact_routed_preserves_rows(spark, transcripts, small_catalog, tmp_path):
    """Small-files compaction: fragmented sinks rewrite into the byte-target
    file count with zero row loss/duplication per sink."""
    from otel_arrow_adapter_spark.operators.route import compact_routed

    out = str(tmp_path / "out_compact")
    run_pipeline(spark, transcripts, small_catalog, out, run_id="c")
    stats = compact_routed(spark, out, target_mb=512)  # everything fits one file
    assert set(stats) == {"logs", "metrics", "traces", "quarantine"}
    for sink, (before, after) in stats.items():
        assert after == 1 and before >= after, (sink, before, after)
        a = spark.read.parquet(f"{out}/routed/sink={sink}")
        b = spark.read.parquet(f"{out}/routed_compacted/sink={sink}")
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_compact_routed_under_file_uri(spark, transcripts, small_catalog, tmp_path):
    """A file:// out_dir compacts every sink of the run, as a bare path does
    (a local-filesystem listing of the URI finds nothing and skips them)."""
    from otel_arrow_adapter_spark.operators.route import compact_routed

    out = str(tmp_path / "out_compact_uri")
    run_pipeline(spark, transcripts, small_catalog, out, run_id="c")
    stats = compact_routed(spark, f"file://{out}", target_mb=512)
    assert set(stats) == {"logs", "metrics", "traces", "quarantine"}
    for sink, (before, after) in stats.items():
        assert after == 1 and before >= after, (sink, before, after)
        a = spark.read.parquet(f"{out}/routed/sink={sink}")
        b = spark.read.parquet(f"{out}/routed_compacted/sink={sink}")
        assert a.count() == b.count()


def test_routed_format_delta_encodes_timestamps(spark, synth_transcripts, small_catalog, tmp_path):
    """The routed table and its compaction are Parquet v2 pages with ``ts``
    as INT64 TIMESTAMP(MICROS, UTC), so the sorted ``ts`` and ``log_ts_us``
    columns are DELTA_BINARY_PACKED (INT96 on v1 pages had no delta
    encoding), and every column reads back equal to the written frame."""
    import glob
    import json

    import pyarrow.parquet as pq

    from otel_arrow_adapter_spark.operators.route import _DERIVED, compact_routed, write_routed
    from otel_arrow_adapter_spark.plans import build_labeled

    assert dict(synth_transcripts.dtypes)["ts"] == "timestamp"
    labeled = build_labeled(synth_transcripts, small_catalog)
    out = str(tmp_path / "out_format")
    write_routed(labeled, out)
    compact_routed(spark, out, target_mb=512)

    for sub in ("routed", "routed_compacted"):
        files = sorted(glob.glob(f"{out}/{sub}/sink=*/*.parquet"))
        assert any("/sink=logs/" in f for f in files), sub
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            col = md.schema.column(names.index("ts"))
            assert col.physical_type == "INT64", (f, col.physical_type)
            logical = json.loads(col.logical_type.to_json())
            assert logical["Type"] == "Timestamp", (f, logical)
            assert logical["timeUnit"] == "microseconds", (f, logical)
            assert logical["isAdjustedToUTC"] is True, (f, logical)
            delta = ["ts"] + (["log_ts_us"] if "/sink=logs/" in f else [])
            for rg in range(md.num_row_groups):
                for c in delta:
                    enc = md.row_group(rg).column(names.index(c)).encodings
                    assert "DELTA_BINARY_PACKED" in enc, (f, c, enc)

    written = labeled.drop(*[c for c in _DERIVED if c in labeled.columns])
    for sub in ("routed", "routed_compacted"):
        back = spark.read.parquet(f"{out}/{sub}").select(*written.columns)
        assert dict(back.dtypes) == dict(written.dtypes), sub
        assert written.exceptAll(back).count() == 0, sub
        assert back.exceptAll(written).count() == 0, sub


def test_compact_routed_rejects_bucketed_run(spark, transcripts, small_catalog, tmp_path):
    """A bucketed run's routed table (bucket=*/sink=*) is refused loudly
    instead of compacting nothing."""
    import pytest

    from otel_arrow_adapter_spark.operators.route import compact_routed

    out = str(tmp_path / "out_compact_bucketed")
    run_pipeline(spark, transcripts, small_catalog, out, run_id="cb", n_buckets=2)
    with pytest.raises(ValueError, match="bucket-partitioned"):
        compact_routed(spark, out)


def test_resumable_ledger_under_file_uri(
    spark, transcripts, small_catalog, tmp_path, monkeypatch
):
    """A file:// out_dir keeps its ledger under that out_dir (not in a
    ``file:`` directory under the working directory), and a resume run
    reads it back and skips every done bucket."""
    import json

    import otel_arrow_adapter_spark.plans.pipeline as pmod

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    calls = []
    real_write = pmod.write_routed
    monkeypatch.setattr(
        pmod, "write_routed", lambda *a, **kw: (calls.append(1), real_write(*a, **kw))[1]
    )
    out = tmp_path / "out_uri"
    run_pipeline(spark, transcripts, small_catalog, out.as_uri(), run_id="u1", n_buckets=2)
    ledger = out / "_ledger" / "ledger.jsonl"
    assert ledger.is_file()
    assert not any(cwd.iterdir())
    rows = [json.loads(line) for line in ledger.read_text().splitlines()]
    assert {r["partition_key"] for r in rows if r["status"] == "done"} == {"bucket=0", "bucket=1"}
    run_pipeline(spark, transcripts, small_catalog, out.as_uri(), run_id="u2", n_buckets=2)
    assert len(calls) == 1  # the resume found both buckets done: no write


def test_replay_quarantine_recovers_rows(spark, transcripts, small_catalog, catalog, tmp_path):
    """Dead-letter replay: after the catalog gains the missing tool, the
    previously-quarantined unknown-tool rows move to their signal sinks,
    only unparseable rows remain quarantined, and the union of sinks still
    round-trips exactly (no loss, no duplication)."""
    from otel_arrow_adapter_spark.plans import replay_quarantine

    out = str(tmp_path / "out_replay")
    run_pipeline(spark, transcripts, small_catalog, out, run_id="r0")
    before = spark.read.parquet(f"{out}/routed")
    n_total = before.count()
    n_quar_before = before.where(F.col("sink") == "quarantine").count()
    # full catalog covers tool-6 -> unknown-tool rows become routable
    with no_new_persistent_rdds(spark, "replay_quarantine"):
        replay_quarantine(spark, catalog, out, run_id="rp1")
    after = spark.read.parquet(f"{out}/routed")
    assert after.count() == n_total  # no loss, no duplication
    n_quar_after = after.where(F.col("sink") == "quarantine").count()
    assert n_quar_after < n_quar_before
    # remaining quarantine is exactly the unparseable rows
    assert (
        after.where(F.col("sink") == "quarantine")
        .where(~F.col("text").rlike("^!!corrupt"))
        .count()
        == 0
    )
    assert _roundtrip_diff(transcripts, reconstruct_turns(pipeline_sinks(spark, out))) == 0


def test_replay_quarantine_full_recovery_no_duplicates(
    spark, transcripts, small_catalog, catalog, tmp_path
):
    """When the updated catalog recovers EVERY quarantined row, the old
    quarantine partition must be deleted, not merely left untouched by an
    empty dynamic overwrite — otherwise each recovered row exists twice
    (once appended to its signal sink, once in the stale quarantine)."""
    import os

    from otel_arrow_adapter_spark.plans import replay_quarantine

    clean = transcripts.where(~F.col("text").rlike("^!!corrupt"))
    out = str(tmp_path / "out_replay_full")
    run_pipeline(spark, clean, small_catalog, out, run_id="r0")
    before = spark.read.parquet(f"{out}/routed")
    n_total = before.count()
    assert before.where(F.col("sink") == "quarantine").count() > 0
    replay_quarantine(spark, catalog, out, run_id="rp-full")
    after = spark.read.parquet(f"{out}/routed")
    assert after.count() == n_total  # no loss, NO duplication
    assert after.where(F.col("sink") == "quarantine").count() == 0
    assert not os.path.isdir(f"{out}/routed/sink=quarantine")
    assert _roundtrip_diff(clean, reconstruct_turns(pipeline_sinks(spark, out))) == 0


def test_replay_quarantine_bucketed_layout(
    spark, transcripts, small_catalog, catalog, tmp_path
):
    """Bucketed/resumable runs partition routed by (bucket, sink); replay
    must carry each row's bucket (re-derived from conv_id) so the layout
    stays uniform, rewrite only still-bad bucket quarantines, and delete
    fully-recovered ones."""
    import glob
    import re

    import pytest as _pytest

    from otel_arrow_adapter_spark.plans import replay_quarantine

    out = str(tmp_path / "out_replay_bucketed")
    run_pipeline(spark, transcripts, small_catalog, out, run_id="r0", n_buckets=4)
    before = spark.read.parquet(f"{out}/routed")
    n_total = before.count()
    n_quar_before = before.where(F.col("sink") == "quarantine").count()
    assert n_quar_before > 0

    # bucketed routed dir without n_buckets is a hard error, not silent corruption
    with _pytest.raises(ValueError, match="bucket-partitioned"):
        replay_quarantine(spark, catalog, out, run_id="rp-bad")

    replay_quarantine(spark, catalog, out, run_id="rp-b", n_buckets=4)
    after = spark.read.parquet(f"{out}/routed")
    assert after.count() == n_total  # no loss, no duplication
    # remaining quarantine is exactly the unparseable rows, still bucketed
    rem = after.where(F.col("sink") == "quarantine")
    assert rem.where(~F.col("text").rlike("^!!corrupt")).count() == 0
    assert rem.count() == transcripts.where(F.col("text").rlike("^!!corrupt")).count()
    # layout is uniform: every quarantine dir sits under a bucket dir, and
    # only buckets with a remainder keep one
    live = {r[0] for r in rem.select("bucket").distinct().collect()}
    on_disk = {
        int(re.search(r"bucket=(-?\d+)", d).group(1))
        for d in glob.glob(f"{out}/routed/bucket=*/sink=quarantine")
    }
    assert on_disk == set(live)
    assert _roundtrip_diff(transcripts, reconstruct_turns(pipeline_sinks(spark, out))) == 0


def test_bloom_filter_write_sized_and_lossless(spark, transcripts, small_catalog, tmp_path):
    """Opt-in Parquet bloom filters on the conv_id point-lookup key: the
    row set is unchanged, the filter bytes actually land (files grow vs
    the no-bloom write), and the explicit expected-NDV keeps them sized
    to the data rather than Parquet's 1M-NDV default (~1 MB per chunk)."""
    import glob
    import os

    from otel_arrow_adapter_spark.operators.route import write_routed
    from otel_arrow_adapter_spark.plans import build_labeled

    # parquet-mr omits blooms for fully dictionary-encoded chunks (the
    # dictionary answers membership exactly), so the test needs per-file
    # conv_id cardinality high enough to defeat the dictionary - remap
    # conv_id to a per-turn unique key (deterministic md5)
    labeled = build_labeled(transcripts, small_catalog).withColumn(
        "conv_id", F.md5(F.concat_ws("|", "conv_id", "turn_idx"))
    )
    write_routed(labeled, str(tmp_path), subdir="routed_plain")
    write_routed(labeled, str(tmp_path), subdir="routed_bloom", bloom_cols={"conv_id": 2000})

    plain = spark.read.parquet(f"{tmp_path}/routed_plain")
    bloom = spark.read.parquet(f"{tmp_path}/routed_bloom")
    assert plain.exceptAll(bloom).count() == 0 and bloom.exceptAll(plain).count() == 0

    def total(sub):
        return sum(
            os.path.getsize(f)
            for f in glob.glob(f"{tmp_path}/{sub}/**/*.parquet", recursive=True)
        )

    t_plain, t_bloom = total("routed_plain"), total("routed_bloom")
    n_files = len(glob.glob(f"{tmp_path}/routed_bloom/**/*.parquet", recursive=True))
    assert t_bloom > t_plain  # the filters landed
    # sized filters: per-file overhead stays KB-scale, not the 1MB default
    assert (t_bloom - t_plain) / n_files < 64 * 1024
