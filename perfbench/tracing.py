"""Spans, job groups and Spark event-log summaries for the traced run.

Spans are kept in memory as plain dicts (name, start, end, parent, run_id)
and written out once, with the summarized event-log counters, when the run
ends. Every span also names a Spark job group, so each job the span starts
is tagged in the event log (``spark.jobGroup.id`` in ``JobStart``) and its
stages' task metrics can be summed per span afterwards.

The pure parts -- event-log reading and summarizing, self-time arithmetic
and metric-name validation -- need no Spark session and are unit-tested
against a small fixture log.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from typing import Iterable, Iterator

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
METRIC_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# per-group counters taken from SparkListenerTaskEnd "Task Metrics"
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def valid_metric_unit(unit: str) -> bool:
    return METRIC_UNIT.fullmatch(unit) is not None


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _event_files(path: str) -> list[str]:
    """One log file, or the ``events_<n>_*`` parts of a rolling
    ``eventlog_v2_*`` directory in roll order."""
    if not os.path.isdir(path):
        return [path]
    parts = glob.glob(os.path.join(path, "events_*"))

    def roll_index(p: str) -> int:
        return int(os.path.basename(p).split("_")[1])

    return sorted(parts, key=roll_index)


def read_event_log(path: str) -> Iterator[dict]:
    """Yield the JSON events of a Spark event log: a plain file, a
    ``.zstd`` file, or a rolling log directory of them."""
    for f in _event_files(path):
        if f.endswith(".zstd"):
            import pyarrow as pa

            with pa.input_stream(f, compression="zstd") as s:
                text = s.read().decode("utf-8")
        else:
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
        for line in text.splitlines():
            if line.strip():
                yield json.loads(line)


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    entries = [os.path.join(log_dir, e) for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {entries}")
    return entries[0]


def summarize_events(events: Iterable[dict]) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group.

    A stage belongs to the group of the first job that lists it (a reused
    shuffle stage is listed again, as skipped, by later jobs but runs its
    tasks once). Jobs without a group land under ``""``. ``stages`` counts
    stages that ran at least one task."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    ran: dict[str, set[int]] = {}

    def group(g: str) -> dict[str, float]:
        if g not in out:
            out[g] = {c: 0 for c in COUNTERS}
            ran[g] = set()
        return out[g]

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            group(g)["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"], "")
            c = group(g)
            m = e.get("Task Metrics") or {}
            c["tasks"] += 1
            ran[g].add(e["Stage ID"])
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for g, stages in ran.items():
        out[g]["stages"] = len(stages)
    return out


def sum_groups(summary: dict[str, dict[str, float]], groups: Iterable[str]) -> dict[str, float]:
    """Counters summed over ``groups`` (absent groups count as zero)."""
    total = {c: 0 for c in COUNTERS}
    for g in groups:
        for c, v in summary.get(g, {}).items():
            total[c] += v
    return total


# ---------------------------------------------------------------------------
# self-time arithmetic
# ---------------------------------------------------------------------------

def prefix_self_times(prefixes: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each stage of a cumulative prefix chain: the first
    prefix is its own self time, every later one is its time minus the
    previous prefix's. Differences are reported as measured, so a negative
    value means the stage is within run-to-run noise."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, t in prefixes:
        out[name] = t - prev
        prev = t
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def span_self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span index: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            p = spans[s["parent"]]
            children.setdefault(s["parent"], []).append(
                (max(s["start"], p["start"]), min(s["end"], p["end"]))
            )
    return {
        i: (s["end"] - s["start"]) - _covered(children.get(i, []))
        for i, s in enumerate(spans)
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Records spans around the benchmark's calls into the program and
    tags each span's Spark jobs with a job group named after the span.

    With ``sc=None`` spans are still timed but no job group is set."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @staticmethod
    def group_id(index: int, name: str) -> str:
        return f"{index}:{name}"

    def _set_group(self, index: int | None) -> None:
        if self.sc is None:
            return
        g = None if index is None else self.group_id(index, self.spans[index]["name"])
        self.sc.setLocalProperty("spark.jobGroup.id", g)
        self.sc.setLocalProperty("spark.job.description", g)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        index = len(self.spans)
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None, "parent": parent, "run_id": self.run_id}
        )
        self._stack.append(index)
        self._set_group(index)
        try:
            yield index
        finally:
            self.spans[index]["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def duration(self, index: int) -> float:
        s = self.spans[index]
        return s["end"] - s["start"]

    def descendants(self, index: int) -> list[int]:
        """``index`` and every span nested under it."""
        out = [index]
        for i, s in enumerate(self.spans):
            if s["parent"] is not None and s["parent"] in out:
                out.append(i)
        return out

    def groups(self, index: int) -> list[str]:
        """Job groups of ``index`` and its nested spans."""
        return [self.group_id(i, self.spans[i]["name"]) for i in self.descendants(index)]
