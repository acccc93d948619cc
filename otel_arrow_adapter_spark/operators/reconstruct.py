"""J1-J3 + W2: decode side — rebuild turns from the star-schema sinks.

The reference decodes by (1) building per-payload attribute stores keyed by
parent_id (/root/reference/pkg/otel/common/otlp/attributes.go:133-226),
(2) walking the main record and looking attrs up by surrogate key
(pkg/otel/logs/otlp/logs.go:230-238). Spark form: the store is a grouped
aggregation to a map column; the lookup is an equi-join on the surrogate
key — Catalyst picks broadcast vs sort-merge by size.

Round-trip contract: ``reconstruct_turns(sinks) == original transcripts``
on (conv_id, turn_idx, text) under stable turn ordering — the analog of
assert.Equiv's order-insensitive vPath set comparison
(pkg/otel/assert/equiv.go:107-157).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sink_checks() -> dict[str, list]:
    """sink -> [(condition that must hold, error label)] — the decode-side
    validation of pkg/otel/logs/otlp/logs.go:145-154 (ID length checks,
    error not crash) plus severity-range and metric-presence invariants.
    Built lazily: Column construction needs a live gateway."""
    return {
        "traces": [
            (F.col("span_hex").isNull() | (F.length("span_hex") == 16), "bad_span_id_length"),
            (F.col("parent_hex").isNull() | (F.length("parent_hex") == 8), "bad_parent_id_length"),
        ],
        "logs": [
            (
                F.col("severity_number").isNull() | F.col("severity_number").between(1, 24),
                "severity_out_of_range",
            ),
        ],
        "metrics": [
            (F.col("metric_name").isNotNull(), "missing_metric_name"),
        ],
    }


def validate_sinks(
    sinks: dict[str, DataFrame],
) -> tuple[dict[str, DataFrame], DataFrame]:
    """Decode-side chaos guard: rows violating per-sink invariants are
    split into a decode-quarantine relation instead of failing the decode —
    the MixUpArrowRecords discipline (/root/reference/pkg/otel/common/
    test_utils.go:28: corrupted payloads must error, never panic).

    Returns ({sink: valid_rows}, decode_quarantine(conv_id, turn_idx,
    sink, decode_error))."""
    all_checks = _sink_checks()
    valid: dict[str, DataFrame] = {}
    bad_parts = []
    for name, df in sinks.items():
        checks = all_checks.get(name, [])
        if not checks:
            valid[name] = df
            continue
        ok = F.lit(True)
        err = F.lit(None).cast("string")
        for cond, label in reversed(checks):
            ok = ok & cond
            err = F.when(~cond, F.lit(label)).otherwise(err)
        flagged = df.withColumn("decode_error", err)
        valid[name] = flagged.where(ok).drop("decode_error")
        bad_parts.append(
            flagged.where(~ok).select(
                "conv_id", "turn_idx", F.lit(name).alias("sink"), "decode_error"
            )
        )
    quarantine = reduce(lambda a, b: a.unionByName(b), bad_parts)
    return valid, quarantine


def reconstruct_turns(sinks: dict[str, DataFrame]) -> DataFrame:
    """Union the routed sinks back into (conv_id, turn_idx, role, text, tool, ts).

    This is the inverse of route_signals: every input row landed in exactly
    one sink carrying its verbatim columns, so the union is the original
    relation (set-equal; ordering restored by (conv_id, turn_idx))."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    parts = [df.select(*cols) for df in sinks.values()]
    return reduce(lambda a, b: a.unionByName(b), parts)
