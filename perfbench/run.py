"""Benchmark of the otel_arrow_adapter_spark encode, decode and dedup paths.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all          # every workload, one process each

One process runs one workload as a closed loop with a single caller: each
timed operation starts after the previous one has finished and been
checked against a reference computed independently (DuckDB) from the same
generated input. With ``--trace 0`` the last stdout line is a JSON object
with the end-to-end metrics; with ``--trace 1`` it holds the per-layer
metrics of a separate, traced phase. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

from harness import (
    Meter,
    OpTally,
    Workdir,
    cpu_times,
    host_info,
    isolate_env,
    jvm_pid,
    live_rdds,
    median,
    start_session,
    steal_ratio,
    stop_jvm,
    tree_peak_rss_mb,
)
from tracing import (
    COUNTERS,
    Tracer,
    find_event_log,
    read_event_log,
    span_self_times,
    sum_groups,
    summarize_events,
    valid_metric_name,
    valid_metric_unit,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("ingest", "dedup")
# runnable by hand; outside BENCHMARK.json to fit the benchmark's time budget
EXTRA_WORKLOADS = ("ingest_bucketed", "readback")

# Input sizes. Every run of the listed workloads must fit the benchmark's
# time budget at local[4]: 2-4 s per ingest operation and 10-14 s per dedup
# pass, which is bound by Spark job overhead, not by the document count.
SIZES = {"ingest_turns": 60_000, "readback_turns": 135_000, "dedup_docs": 200}
SETUP_REPS = 3  # set-up is repeated and its median reported
# Warm-up operations per workload. A fresh JVM keeps getting faster for
# many operations; a fixed count puts the timed window at the same point
# of that curve in every run, where a stop-when-settled rule moved it by
# one operation from run to run and doubled the spread of run_s. A
# pipeline operation's CPU time falls from about 23 s to 6 s at local[4]
# over its first seven runs, the same way in every run, while the JIT
# compiles, and keeps falling slowly after that. After six, a 12 s window
# holds three to five operations within about 15% of each other; after
# five, the window's share of the steeper part of the curve spread the
# median CPU time by 18% between seeds. The dedup pass's first operation
# starts the Python workers and compiles its ~125 query plans (about 80
# CPU s); later passes take about 35 CPU s.
WARMUP_OPS = {"ingest": 6, "ingest_bucketed": 6, "readback": 3, "dedup": 1}
# cpu_s is the median over the window's first operations only: CPU time
# still falls slowly from one operation to the next, so a median over
# however many operations the wall-clock window holds moved with the
# host's speed (spread 21% between seeds, against 12% for the first three).
CPU_OPS = 3

# Time is CPU seconds of this process and the JVM tree it starts: on a
# shared host the wall time of the same run swings by a factor of two
# within minutes (over five seeds the median wall time of an operation
# spread 35-43%, its CPU time 8-11%). Wall times are printed and recorded
# too (WALL) but bound nothing.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "bytes_per_row": "B",
    "peak_rss_mb": "MB",
}
WALL = {"setup_wall_s": "s", "run_s": "s", "rows_per_s": "1/s"}

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.bytes_read": "B",
    "parse.self_s": "s",
    "parse.executor_cpu_s": "s",
    "parse.quarantine_rows": "count",
    "normalize.self_s": "s",
    "normalize.jobs": "count",
    "enrich.self_s": "s",
    "enrich.unknown_tool_rows": "count",
    "route.salt_s": "s",
    "route.label_self_s": "s",
    "route.suppress_self_s": "s",
    "route.sort_write_s": "s",
    "route.text_stored_rows": "count",
    "route.files_written": "count",
    "route.bytes_written": "B",
    "route.spill_bytes": "B",
    "route.shuffle_write_bytes": "B",
    "route.read_sinks_s.logs": "s",
    "route.read_sinks_s.metrics": "s",
    "route.read_sinks_s.traces": "s",
    "route.read_sinks_s.quarantine": "s",
    "route.restored_rows": "count",
    "pipeline.counts_s": "s",
    "pipeline.bucket_stats_s": "s",
    "pipeline.jobs": "count",
    "ledger.records": "count",
    "dedup.doc_dup_clusters_s": "s",
    "dedup.doc_clean_corpus_near_s": "s",
    "dedup.doc_leakage_free_split_s": "s",
    "dedup.doc_incremental_dedup_s": "s",
    "dedup.jobs": "count",
    "dedup.stages": "count",
    "dedup.shuffle_write_bytes": "B",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "caching.live_rdds_after": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.run_s": "s",
    "trace.unexplained_s": "s",
    "trace.overhead_frac": "1",
}


def repo_complete() -> bool:
    return os.path.isfile(os.path.join(ROOT, "otel_arrow_adapter_spark", "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> dict:
    bad = [n for n, u in units.items() if not (valid_metric_name(n) and valid_metric_unit(u))]
    if bad:
        raise ValueError(f"metric names or units outside the allowed charset: {bad}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


class Run:
    """One workload in one process: set-up, warm-up, the timed closed
    loop and, with tracing, the traced phase."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.work = Workdir(os.path.join(ROOT, ".perfbench", "work", self.run_id))
        self.work.create()
        isolate_env(self.work)
        self.spark = None
        self.wl = None
        self.tally = OpTally()
        self.peak_rss = 0.0
        self.op_index = 0
        self.tracer: Tracer | None = None
        self.op_spans: list[int] = []  # traced operations' span indices

    # -- one operation ---------------------------------------------------

    def op(self, tracer=None) -> tuple[float, float] | None:
        """Run, check and clean one operation; its (wall, CPU) seconds
        when it passed."""
        i, self.op_index = self.op_index, self.op_index + 1
        secs = mismatched = None
        meter = Meter()
        try:
            with tracer.span(f"op{i}") if tracer is not None else nullcontext() as span:
                got = self.wl.run(self.spark, i, tracer)
            secs = meter.read()
            mismatched = self.wl.check(self.spark, got)
            if tracer is not None:
                self.op_spans.append(span)
                self.wl.observe(self.spark)
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc(file=sys.stderr)
        finally:
            self.wl.cleanup()
            self.spark.catalog.clearCache()
            live = live_rdds(self.spark)
            pid = jvm_pid()
            if pid is not None:
                self.peak_rss = max(self.peak_rss, tree_peak_rss_mb(pid))
        return self.tally.record(secs, mismatched, live)

    def warm_up(self) -> list[tuple[float, float] | None]:
        return [self.op() for _ in range(WARMUP_OPS[self.workload])]

    def timed_loop(self, seconds: float, tracer=None) -> tuple[list[float], list[float]]:
        """Operations back to back for ``seconds`` (at least one); the
        wall and CPU seconds of those that passed. No operation starts
        that would, at the median length so far, end past the window:
        letting the last one overrun made the operation count, and with
        it the median, vary from run to run."""
        times: list[float] = []
        cpus: list[float] = []
        end = time.perf_counter() + seconds
        while True:
            t = self.op(tracer)
            if t is not None:
                times.append(t[0])
                cpus.append(t[1])
            now = time.perf_counter()
            if now >= end or (times and now + median(times) > end):
                return times, cpus

    # -- phases ------------------------------------------------------------

    def execute(self) -> tuple[dict, dict, dict]:
        """(result line, human summary, record for the per-run JSON)."""
        import workloads  # imports pyspark

        host = host_info()
        cpu0 = cpu_times()
        record: dict = {"run_id": self.run_id, "workload": self.workload, "seed": self.seed, "host": host}
        try:
            meter = Meter()
            # a traced run logs events from the start: restarting the context
            # for the traced half would need another cold operation
            self.spark = start_session(self.work, f"perfbench-{self.workload}", event_log=self.trace)
            session = meter.read()
            host["java"] = self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
            self.wl = workloads.make(self.workload, self.work, SIZES)
            reps = []
            for _ in range(1 if self.trace else SETUP_REPS):
                meter = Meter()
                self.wl.prepare(self.spark, self.seed)
                self.spark.catalog.clearCache()
                reps.append(meter.read())
            meter = Meter()
            warm = self.warm_up()
            warm_total = meter.read()
            # a traced run splits its time between the untraced and traced phases
            times, cpus = self.timed_loop(self.seconds / 2 if self.trace else self.seconds)
            # (wall, CPU) seconds of each set-up phase
            record.update(session_s=session, prepare_s=reps, warm_up_op_s=warm, warm_up_s=warm_total,
                          op_s=times, op_cpu_s=cpus)
            if self.trace:
                layer = self.traced_phase(median(times), record)
        finally:
            if self.spark is not None:
                stop_jvm(self.spark)
        host["steal_ratio"] = round(steal_ratio(cpu0, cpu_times()), 4)
        tally = self.tally
        correct = tally.failed == 0 and tally.mismatched == 0 and bool(times)
        record.update(attempted=tally.attempted, failed=tally.failed, mismatched_rows=tally.mismatched)

        run_s = median(times)
        wall = {
            "setup_wall_s": session[0] + median([r[0] for r in reps]) + warm_total[0],
            "run_s": run_s,
            "rows_per_s": self.wl.rows / run_s if run_s else 0.0,
        }
        if self.trace:
            values = self.per_layer(layer, record)
            units = PER_LAYER
        else:
            values = {
                "setup_s": session[1] + median([r[1] for r in reps]) + warm_total[1],
                "cpu_s": median(cpus[:CPU_OPS]),
                "bytes_per_row": self.wl.bytes_per_row(),
                "peak_rss_mb": self.peak_rss,
            }
            units = END_TO_END
        summary = dict(values, **wall)
        summary.update(
            failed_frac=tally.failed_frac,
            mismatched_rows=tally.mismatched,
            timed_ops=len(times),
        )
        record["metrics"] = dict(values, **wall)
        return result_line(correct, tally.attempted, tally.failed, values, units), summary, record

    def traced_phase(self, untraced_s: float, record: dict) -> dict:
        """Traced operations for as long as the untraced ones ran, in the
        same context, then the layered pass once."""
        self.tracer = Tracer(self.run_id, self.spark.sparkContext)
        traced, _ = self.timed_loop(self.seconds / 2, self.tracer)
        layers = self.wl.layers(self.spark, self.tracer)
        self.spark.catalog.clearCache()
        record.update(traced_op_s=traced, untraced_run_s=untraced_s)
        return {"traced": traced, "untraced_s": untraced_s, "layers": layers}

    def per_layer(self, layer: dict, record: dict) -> dict:
        tracer = self.tracer
        summary = summarize_events(read_event_log(find_event_log(self.work.path("eventlog"))))
        n_ops = max(len(self.op_spans), 1)
        per_op = {c: 0.0 for c in COUNTERS}
        for idx in self.op_spans:
            for c, v in sum_groups(summary, tracer.groups(idx)).items():
                per_op[c] += v / n_ops

        def layer_counters(name: str) -> dict:
            idx = max(i for i, s in enumerate(tracer.spans) if s["name"] == name)
            return sum_groups(summary, tracer.groups(idx))

        values = {k: 0.0 for k in PER_LAYER}
        values.update(self.wl.observed)
        layers = dict(layer["layers"])
        explained = layers.pop("layers.explained_s")
        values.update(layers)
        values.update(self.wl.counters(layer_counters, per_op))
        for c in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            values[f"spark.{c}"] = per_op[c]
        values["sources.bytes_read"] = per_op["input_bytes"]
        values["caching.live_rdds_after"] = self.tally.max_live
        traced_s = median(layer["traced"])
        values["trace.run_s"] = traced_s
        values["trace.unexplained_s"] = traced_s - explained
        values["trace.overhead_frac"] = traced_s / layer["untraced_s"] - 1 if layer["untraced_s"] else 0.0
        unknown = set(values) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
        self_s = span_self_times(tracer.spans)
        record.update(
            spans=[dict(s, self_s=self_s[i]) for i, s in enumerate(tracer.spans)],
            event_log_groups=summary,
        )
        return values


def run_one(args) -> int:
    sys.path.insert(0, ROOT)  # the package under test
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        line, summary, record = run.execute()
        out_dir = os.path.join(ROOT, ".perfbench", "results")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{run.run_id}.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True, default=str)
    finally:
        run.work.remove()
    units = dict(END_TO_END, **PER_LAYER, **WALL, failed_frac="1", mismatched_rows="count", timed_ops="count")
    print(f"# host {json.dumps(record['host'], sort_keys=True)}")
    for k, v in summary.items():
        print(f"# {args.workload} {k} = {v:.6g} {units[k]}")
    print(json.dumps(line))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints each one's lines, then a
    combined result with ``<workload>.<metric>`` names."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS + EXTRA_WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{w}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not repo_complete():
        print(f"perfbench: {ROOT} has no otel_arrow_adapter_spark package to benchmark", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
