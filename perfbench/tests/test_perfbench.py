"""Tests of the benchmark's pure parts: the event-log summarizer, the
self-time arithmetic, metric names, failure counting and the CPU-time
reading. None starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import harness
import run
import tracing

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "events.jsonl")
BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


# -- event log ---------------------------------------------------------------

def test_summarize_fixture_by_job_group():
    s = tracing.summarize_events(tracing.read_event_log(FIXTURE))
    assert set(s) == {"0:op0", "1:route.write", ""}
    op = s["0:op0"]
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 2, 3)
    assert op["executor_run_s"] == pytest.approx(0.6)
    assert op["executor_cpu_s"] == pytest.approx(0.45)
    assert op["gc_s"] == pytest.approx(0.03)
    assert op["shuffle_write_bytes"] == 1500
    assert op["shuffle_read_bytes"] == 1500
    assert op["spill_bytes"] == 700  # disk bytes, not memory bytes
    assert op["input_bytes"] == 5120
    # stage 1 ran under job 0; job 1 lists it again as skipped
    write = s["1:route.write"]
    assert (write["jobs"], write["stages"], write["tasks"]) == (1, 1, 1)
    assert write["output_bytes"] == 9000
    assert s[""]["jobs"] == 1 and s[""]["input_bytes"] == 64


def test_rolling_zstd_log_reads_like_the_plain_file(tmp_path):
    pa = pytest.importorskip("pyarrow")
    log_dir = tmp_path / "eventlog" / "eventlog_v2_local-1"
    log_dir.mkdir(parents=True)
    with open(FIXTURE, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    # two rolled parts, written out of order on purpose
    for idx, chunk in ((2, lines[6:]), (1, lines[:6])):
        with pa.output_stream(str(log_dir / f"events_{idx}_local-1.zstd"), compression="zstd") as out:
            out.write(b"".join(chunk))
    (log_dir / "appstatus_local-1").write_text("")
    found = tracing.find_event_log(str(tmp_path / "eventlog"))
    assert found == str(log_dir)
    assert list(tracing.read_event_log(found)) == list(tracing.read_event_log(FIXTURE))


def test_sum_groups_treats_missing_groups_as_zero():
    s = tracing.summarize_events(tracing.read_event_log(FIXTURE))
    total = tracing.sum_groups(s, ["0:op0", "1:route.write", "9:absent"])
    assert total["jobs"] == 2 and total["tasks"] == 4


# -- self time ---------------------------------------------------------------

def test_prefix_self_times_are_consecutive_differences():
    got = tracing.prefix_self_times([("scan", 1.0), ("parse", 3.5), ("label", 3.0)])
    assert got == pytest.approx({"scan": 1.0, "parse": 2.5, "label": -0.5})


def _span(start, end, parent=None):
    return {"name": "x", "start": start, "end": end, "parent": parent, "run_id": "r"}


def test_span_self_time_subtracts_covered_child_time_once():
    spans = [
        _span(0.0, 10.0),
        _span(1.0, 4.0, parent=0),
        _span(3.0, 5.0, parent=0),  # overlaps the previous child
        _span(8.0, 12.0, parent=0),  # runs past its parent's end
        _span(1.5, 2.0, parent=1),
    ]
    got = tracing.span_self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_names_groups():
    t = tracing.Tracer("run-1")
    with t.span("op0") as a:
        with t.span("dedup.q") as b:
            pass
    with t.span("op1") as c:
        pass
    assert t.spans[b]["parent"] == a and t.spans[c]["parent"] is None
    assert t.groups(a) == ["0:op0", "1:dedup.q"]
    assert t.duration(a) >= t.duration(b) >= 0


# -- metric names ------------------------------------------------------------

def test_metric_names_and_units_fit_the_charset():
    for table in (run.END_TO_END, run.PER_LAYER):
        for name, unit in table.items():
            assert tracing.valid_metric_name(name), name
            assert tracing.valid_metric_unit(unit), unit


@pytest.mark.parametrize("bad", ["", "_lead", "sp ace", "a" * 65, "route/read", "x:y"])
def test_invalid_metric_names_are_rejected(bad):
    assert not tracing.valid_metric_name(bad)


def test_benchmark_json_matches_the_metrics_the_benchmark_prints():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- failure counting --------------------------------------------------------

def test_tally_counts_raised_mismatched_and_leaking_operations():
    t = harness.OpTally()
    assert t.record(1.5, 0, 0) == 1.5
    assert t.record(None, None, 0) is None  # raised
    assert t.record(2.0, 3, 0) is None  # three rows off
    assert t.record(2.0, 0, 1) is None  # left an RDD persisted
    assert (t.attempted, t.failed, t.mismatched, t.max_live) == (4, 3, 3, 1)
    assert t.failed_frac == pytest.approx(0.75)


def test_tree_cpu_time_counts_this_process_and_reaped_children():
    before = harness.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    end = os.times()
    after = harness.tree_cpu_s(os.getpid())
    # the child's CPU time reaches the parent's cutime once it is reaped
    assert after - before >= 0.05
    assert after == pytest.approx(end.user + end.system + end.children_user + end.children_system, abs=0.05)


def test_pipeline_check_counts_rows_off_per_sink(tmp_path):
    import workloads

    wl = workloads.Pipeline("ingest", harness.Workdir(str(tmp_path)), 10)
    wl.ref = {"logs": (10, 3), "metrics": (5, 2)}
    assert wl.check(None, {"logs": (10, 3), "metrics": (5, 2)}) == 0
    # one log row and one conversation short, metrics missing, an unknown sink
    assert wl.check(None, {"logs": (9, 2), "bogus": (4, 1)}) == 2 + 7 + 4


def test_dedup_check_counts_the_row_multiset_difference(tmp_path):
    import workloads

    wl = workloads.Dedup(harness.Workdir(str(tmp_path)), 10)
    wl.ref = {"q": (["doc_id", "keep"], ["1|true", "2|false"])}
    assert wl.check(None, {"q": (["keep", "doc_id"], [(True, 1), (False, 2)])}) == 0
    assert wl.check(None, {"q": (["doc_id", "keep"], [(1, True), (3, False)])}) == 2


def test_result_line_has_exactly_the_contract_keys():
    line = run.result_line(True, 3, 0, {"run_s": 1.25}, {"run_s": "s"})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {"run_s": {"value": 1.25, "unit": "s"}}


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(run.HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(BENCHMARK_JSON, tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
