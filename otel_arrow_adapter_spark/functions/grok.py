"""Grok-style parse as a vectorized pandas UDF (the north star's
"regex/grok parse" fallback for grammars that need real Python regexes).

Grok = named-pattern macros expanded into one regex with named capture
groups (the public logstash/grok convention: ``%{MACRO:field}``). The JVM
expression path (operators/parse.py) is the default hot path; this module
is the escape hatch for grammars where the field set is config-driven or
the regex needs features Spark's RE2-ish engine lacks. Execution model:
Arrow-batched ``pandas_udf`` returning a struct column — one
``pandas.str.extract`` per batch (vectorized in C), never per-row Python
loops (BASELINE.json input_hint).

Reference analog: the adapter's file receiver replays arbitrary captured
text telemetry (/root/reference/collector/receiver/filereceiver/
file_reader.go:81-163); a configurable parse layer is how such captures
become typed columns here.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Public grok macro library (subset; extend freely). Patterns are plain
# Python-re snippets WITHOUT groups so they can nest inside named groups.
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?[0-9]+",
    "POSINT": r"[0-9]+",
    "NUMBER": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?)",
    "BASE16NUM": r"[0-9a-fA-F]+",
    "BOOL": r"true|false",
    "LOGLEVEL": r"TRACE|DEBUG|INFO|WARN|ERROR|FATAL",
    "IDENT": r"[a-z_]+",
    "UNIT": r"[a-z%]+",
    "QUOTEDSTRING": r'"[^"]*"',
}

_MACRO = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def compile_grok(pattern: str) -> tuple[str, list[str]]:
    """Expand ``%{MACRO:field}`` macros -> (python regex, field order).

    ``%{MACRO}`` without a field name matches without capturing. Unknown
    macros raise (config error, not data error).
    """
    fields: list[str] = []

    def sub(m: re.Match) -> str:
        macro, field = m.group(1), m.group(2)
        if macro not in GROK_PATTERNS:
            raise ValueError(f"unknown grok macro %{{{macro}}}")
        body = GROK_PATTERNS[macro]
        if field is None:
            return f"(?:{body})"
        if field in fields:
            raise ValueError(f"duplicate grok field {field!r}")
        fields.append(field)
        return f"(?P<{field}>{body})"

    regex = _MACRO.sub(sub, pattern)
    if not fields:
        raise ValueError("grok pattern captures no fields")
    re.compile(regex)  # fail fast on driver, not inside executors
    return regex, fields


def _make_extract(regex: str, fields: list[str]):
    """Closure over plain strings so cloudpickle ships it by value (workers
    may not be able to import this package — same trick as parse_arrow)."""

    def extract(texts: pd.Series) -> pd.DataFrame:
        out = texts.astype("string").str.extract(regex)
        # '' from a participating-but-empty group -> null (P6 suppression)
        return out[fields].replace({"": None}).astype(object).where(lambda d: d.notna(), None)

    return extract


def grok_parse(df: DataFrame, pattern: str) -> DataFrame:
    """Add one string column per grok field of the ``text`` column (null
    where no match).

    All fields come back as strings; cast downstream with ``try_cast`` so
    malformed values null out instead of raising under ANSI mode.
    """
    regex, fields = compile_grok(pattern)
    ddl = ", ".join(f"`{f}` string" for f in fields)
    udf = F.pandas_udf(_make_extract(regex, fields), f"struct<{ddl}>")
    g = udf(F.col("text"))
    return df.withColumns({f: g[f] for f in fields})


def grok_match(pattern: str, col: Column) -> Column:
    """Boolean "does the grok pattern match" as a JVM rlike (no UDF):
    useful to pre-filter before the pandas extraction."""
    regex, _ = compile_grok(pattern)
    anon = re.sub(r"\(\?P<\w+>", "(?:", regex)
    return col.rlike(anon)
