"""Correctness references, computed with DuckDB from the generated inputs.

None of this goes through Spark or the package under test: the sink
classifier is the one the ``pipeline_sink_counts`` oracle uses, the
round-trip digest is a sum of md5-derived row hashes that Spark can
reproduce with its own functions, and the dedup references run each
query's ``oracle_sql()`` text.
"""

from __future__ import annotations

import hashlib

import duckdb

# the classifier of the pipeline_sink_counts oracle in __spark_entry__.py,
# over the benchmark's own catalog of tool-0 .. tool-{n_tools-1}
_SINK_COUNTS_SQL = """
WITH t AS (SELECT * FROM read_parquet('{path}/*.parquet')),
catalog AS (SELECT 'tool-' || CAST(i AS VARCHAR) AS tool FROM range(0, {n_tools}) r(i)),
classified AS (
  SELECT t.conv_id,
    CASE
      WHEN regexp_matches(t.text, '^ts_us=[0-9]+ level=') THEN 'log'
      WHEN regexp_matches(t.text, '^name=[a-z_]+ value=') THEN 'metric'
      WHEN regexp_matches(t.text, '^span=[0-9a-f]{{16}} parent=') THEN 'trace'
      ELSE 'quarantine'
    END AS signal_type,
    (t.tool IS NOT NULL AND c.tool IS NULL) AS bad_tool
  FROM t LEFT JOIN catalog c USING (tool)
)
SELECT CASE WHEN signal_type = 'quarantine' OR bad_tool THEN 'quarantine'
            ELSE signal_type || 's' END AS sink,
       count(*) AS n_rows,
       count(DISTINCT conv_id) AS n_convs
FROM classified GROUP BY 1
"""

# order-insensitive digest of (conv_id, turn_idx, text): the sum of the
# first 15 hex digits of each row's md5, so no sum can overflow
_KEY_DIGEST_SQL = """
SELECT count(*),
  CAST(sum(CAST(CAST('0x' || substr(md5(conv_id || '|' || CAST(turn_idx AS VARCHAR)
                                         || '|' || text), 1, 15) AS UBIGINT) AS HUGEINT))
       AS VARCHAR)
FROM read_parquet('{path}/*.parquet')
"""


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def sink_counts(input_dir: str, n_tools: int, tmp_dir: str) -> dict[str, tuple[int, int]]:
    """{sink: (n_rows, n_convs)} for the transcripts parquet in ``input_dir``."""
    with _connect(tmp_dir) as con:
        rows = con.execute(_SINK_COUNTS_SQL.format(path=input_dir, n_tools=n_tools)).fetchall()
    return {sink: (int(n), int(c)) for sink, n, c in rows}


def key_digest(input_dir: str, tmp_dir: str) -> tuple[int, int]:
    """(rows, digest) of (conv_id, turn_idx, text) over the input."""
    with _connect(tmp_dir) as con:
        n, digest = con.execute(_KEY_DIGEST_SQL.format(path=input_dir)).fetchone()
    return int(n), int(digest)


def norm_rows(cols: list[str], rows: list[tuple], ndigits: int = 6) -> list[str]:
    """Rows as sorted strings: columns ordered by name, floats rounded to
    ``ndigits``, booleans lower-case, NULL spelled out -- the comparison
    the repository's oracle check makes between Spark and DuckDB."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = format(round(v, ndigits), f".{ndigits}f")
            elif isinstance(v, bool):
                v = str(v).lower()
            vals.append("NULL" if v is None else str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def rows_hash(normed: list[str]) -> str:
    return hashlib.md5("\n".join(normed).encode()).hexdigest()


def oracle_rows(docs_path: str, sql: dict[str, str], tmp_dir: str) -> dict[str, tuple[list[str], list[str]]]:
    """{query: (column names, normalized rows)} of each oracle SQL over a
    ``documents`` view of ``docs_path``."""
    out = {}
    with _connect(tmp_dir) as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        for name, text in sql.items():
            res = con.execute(text)
            cols = [d[0] for d in res.description]
            out[name] = (cols, norm_rows(cols, res.fetchall()))
    return out
