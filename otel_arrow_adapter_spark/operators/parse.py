"""P1-P6 + R1 classifier: vectorized parse of turn text into OTEL-style columns.

Reference behavior being re-expressed (not ported):
- flatten + per-record typed columns: /root/reference/pkg/otel/logs/arrow/logs.go:38-62
  (LogsSchema: time ns, observed ns, trace/span id, severity number/text, body union)
- non-default suppression: AppendNonEmpty/AppendNonZero
  /root/reference/pkg/otel/common/schema/builder/string.go:78-105 — here
  ``nullif``/``when`` so defaults become nulls (Parquet then elides them).
- body union encoding (type tag + per-type column):
  /root/reference/pkg/otel/logs/arrow/logs.go:289-400.
- ID validation (16/8 byte checks, error-not-crash):
  /root/reference/pkg/otel/logs/otlp/logs.go:145-154 — malformed rows are
  routed to quarantine instead of raising.

Everything is built-in column expressions (JVM, whole-stage codegen). The
grammar is ``key=value`` tokens (only ``msg="..."`` may contain spaces), so
the hot path tokenizes ONCE (split + substring_index) and reads fields from
the token array — 2 regex passes per row (msg extract + msg strip) instead
of one regexp_extract scan per field, which measured ~2x end-to-end and cut
the per-row allocation rate that capped thread scaling at local[32].
Classification stays on anchored rlike so malformed shapes quarantine
exactly like the DuckDB oracles. All casts/lookups are try_* forms: Spark 4
runs ANSI mode, and a malformed value must quarantine, never raise
(error-not-crash, /root/reference/pkg/otel/logs/otlp/logs.go:145-154).
A pandas-UDF grok fallback lives in functions/grok.py for grammars that
need real Python.

Field-value grammar parity: every token value is gated through the SAME
value pattern the oracles use (prefix extraction — oracle
`' parent=([0-9a-f]{8})'` on `parent=zzz` yields null and on
`parent=0123456789` yields the 8-char prefix; the gated tokenizer
reproduces both). The three paths (JVM tokenizer, Arrow per-field RE2,
DuckDB oracle) agree on any input where each key occurs at most once
outside the quoted msg — the grammar's invariant; inputs violating it
differ only in which occurrence wins (documented, not generated).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Body extraction pattern. The DuckDB oracles in __spark_entry__.py spell the
# same pattern inline — keep it RE2-safe (no lookbehind) so both engines
# accept it.
RE_LOG_MSG = r' msg="([^"]*)"'

# OTLP severity numbers (public OTel spec).
SEVERITY_NUMBER = {"TRACE": 1, "DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}

# Body union type tags — analog of the AnyValue discriminant
# (/root/reference/pkg/otel/common/arrow/attributes_16.go:131-196).
BODY_STR, BODY_INT, BODY_DOUBLE, BODY_BOOL, BODY_BYTES, BODY_SER = 1, 2, 3, 4, 5, 6

# Full body union shape (P5): tag + one nullable column per arm, exactly
# the log-body encoding of /root/reference/pkg/otel/logs/arrow/logs.go:289-400
# (nested slice/map -> `ser`, the CBOR/JSON escape hatch). Transcript
# payloads are text, so parse always emits a str body; `make_body` /
# `body_value` are the general constructors/decoders for typed bodies.
BODY_ARMS = {"str": "string", "int": "long", "double": "double",
             "bool": "boolean", "bytes": "binary", "ser": "string"}
BODY_TAG = {"str": BODY_STR, "int": BODY_INT, "double": BODY_DOUBLE,
            "bool": BODY_BOOL, "bytes": BODY_BYTES, "ser": BODY_SER}


def make_body(value: Column, kind: str) -> Column:
    """Typed body struct with exactly one populated arm."""
    fields = [F.lit(BODY_TAG[kind]).cast("tinyint").alias("body_type")]
    for arm, t in BODY_ARMS.items():
        v = value.cast(t) if arm == kind else F.lit(None).cast(t)
        fields.append(v.alias(arm))
    return F.struct(*fields)


def body_value(body: Column, kind: str) -> Column:
    """Decode mirror (logs.go:165-228 dispatch): the arm named by the tag,
    null when the tag doesn't match ``kind``."""
    return F.when(body["body_type"] == BODY_TAG[kind], body[kind])


def _x(col: Column, pattern: str) -> Column:
    """regexp_extract with '' -> null (P6 non-default suppression)."""
    return F.nullif(F.regexp_extract(col, pattern, 1), F.lit(""))


def classify_signal(text: Column) -> Column:
    """R1 analog: payload-type dispatch by grammar shape.

    Reference dispatches decoded payloads by a type enum
    (/root/reference/pkg/otel/metrics/otlp/related_data.go:101-156); our
    payloads are text lines, so the type is recovered from the grammar.
    """
    return (
        F.when(text.rlike(r"^ts_us=[0-9]+ level="), F.lit("log"))
        .when(text.rlike(r"^name=[a-z_]+ value="), F.lit("metric"))
        .when(text.rlike(r"^span=[0-9a-f]{16} parent="), F.lit("trace"))
        .otherwise(F.lit("quarantine"))
    )


# One-pass tokenizer: strip the quoted msg, split on spaces, key/value per
# token. Tokens without '=' get a null value; empty values ('code=') null out
# via nullif (P6 non-default suppression).
_TOKENIZE = """
transform(split(regexp_replace(text, ' msg="[^"]*"', ''), ' '),
          s -> struct(substring_index(s, '=', 1) AS k,
                      CASE WHEN instr(s, '=') > 0
                           THEN nullif(substring(s, instr(s, '=') + 1), '')
                      END AS v))
"""


def _field(kv: Column, key: str) -> Column:
    """First value for ``key`` in the token array; null when absent.
    try_element_at: ANSI-safe on the empty filter result."""
    return F.try_element_at(F.filter(kv, lambda p: p["k"] == key), F.lit(1))["v"]


# Per-field VALUE grammars — the capture bodies of the oracle regexes above.
# Gating token values through these (as prefix extraction) makes the
# tokenizer path agree with the oracles' regexp_extract on out-of-grammar
# values ('parent=zzz' -> null, 'unit=mS' -> 'm', 'retry=truex' -> 'true').
FIELD_VALUE_GRAMMAR = {
    "ts_us": r"[0-9]+",
    "level": r"[A-Z]+",
    "code": r"[0-9]+",
    "retry": r"true|false",
    "name": r"[a-z_]+",
    "value": r"-?[0-9]+",
    "unit": r"[a-z%]+",
    "span": r"[0-9a-f]{16}",
    "parent": r"[0-9a-f]{8}",
    "dur_ms": r"[0-9]+",
}


def _vfield(kv: Column, key: str) -> Column:
    """``_field`` gated through the field's value grammar (prefix match)."""
    return F.nullif(
        F.regexp_extract(_field(kv, key), f"^({FIELD_VALUE_GRAMMAR[key]})", 1), F.lit("")
    )


def parse_turns(df: DataFrame) -> DataFrame:
    """transcripts -> parsed, typed columns + signal_type.

    Input: (conv_id, turn_idx, role, text, tool, ts). Output adds:
    signal_type, log_* / metric_* / trace_* typed fields, severity,
    body struct (type tag + str), and keeps ``text`` verbatim for the
    per-turn equality contract. Per-signal fields are gated on the signal
    classification (star-schema semantics: a field belongs to its payload
    type, cf. the per-payload builders in
    /root/reference/pkg/otel/logs/arrow/logs.go:38-62).
    """
    t = F.col("text")
    sig = F.col("signal_type")
    kv = F.col("__kv")

    def when_sig(s: str, col: Column) -> Column:
        return F.when(sig == s, col)

    sev_text = when_sig("log", _vfield(kv, "level"))
    sev_num = F.element_at(
        F.create_map(*[y for k, v in SEVERITY_NUMBER.items() for y in (F.lit(k), F.lit(v))]),
        sev_text,
    )
    msg = when_sig("log", _x(t, RE_LOG_MSG))
    retry_v = when_sig("log", _vfield(kv, "retry"))

    return (
        df.withColumn("signal_type", classify_signal(t))
        .withColumn("__kv", F.expr(_TOKENIZE))
        .select(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            "ts",
            "text",
            "signal_type",
            # log fields
            when_sig("log", _vfield(kv, "ts_us")).try_cast("long").alias("log_ts_us"),
            sev_text.alias("severity_text"),
            sev_num.cast("int").alias("severity_number"),
            msg.alias("msg"),
            when_sig("log", _vfield(kv, "code")).try_cast("long").alias("code"),
            F.when(retry_v == "true", F.lit(True))
            .when(retry_v == "false", F.lit(False))
            .alias("retry"),
            # metric fields
            when_sig("metric", _vfield(kv, "name")).alias("metric_name"),
            when_sig("metric", _vfield(kv, "value")).try_cast("long").alias("metric_value"),
            when_sig("metric", _vfield(kv, "unit")).alias("metric_unit"),
            # trace fields (hex-string ids; binary form is unhex(span_hex) — the
            # 16-char id is 8 bytes, validated like logs.go:145-154)
            when_sig("trace", _vfield(kv, "span")).alias("span_hex"),
            when_sig("trace", _vfield(kv, "parent")).alias("parent_hex"),
            when_sig("trace", _vfield(kv, "dur_ms")).try_cast("long").alias("dur_ms"),
            # body union (str-typed for text payloads; full union shape so
            # typed bodies flow through the same schema)
            make_body(msg, "str").alias("body"),
        )
    )
