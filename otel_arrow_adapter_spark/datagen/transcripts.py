"""Deterministic transcripts input (BASELINE.json ``input_hint``).

Two generators:

1. ``transcripts_from_events`` — derives the canonical
   ``transcripts(conv_id, turn_idx, role, text, tool, ts)`` table from the
   driver-provided ``events`` parquet with *pure SQL* that both Spark and
   DuckDB evaluate identically (integer-only text payloads; ties broken by
   event_id). This is what powers the DuckDB-oracle correctness gate: every
   pipeline query's oracle embeds the same CTE.

2. ``synthesize_transcripts`` — a fully distributed seeded generator for
   scale/skew benchmarks: power-law conversation lengths (hot conv_ids),
   the same text grammar, deliberately-missing optional keys. Mirrors the
   reference's seeded datagen with randomly-dropped fields
   (/root/reference/pkg/datagen/logs.go:39-147) without copying it: we use
   hash-of-id pseudo-randomness so generation is a pure column expression
   (no driver-side loop, no Python RNG on executors).

Text grammar (parse targets, FIXTURES.md F1):
  log-like    ts_us=<i64> level=<SEV> msg="..." code=<int> retry=<bool>
  metric-like name=<ident> value=<i64> unit=<ident>
  trace-like  span=<16 digits> parent=<8 digits> dur_ms=<int>
  malformed   !!corrupt payload <id>        (quarantine path)

All numeric payloads embedded in text are integers so Spark/DuckDB string
casts agree byte-for-byte (doubles format differently across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Shared SQL body. `{TS_US}` = epoch-micros expression over the naive
# parquet timestamp (Spark: unix_micros(cast(ts as timestamp)) — identity
# under the UTC session TZ; DuckDB: epoch_us(ts)); `{EVENTS}` = relation name.
TRANSCRIPTS_SQL_TEMPLATE = """
SELECT
  concat('conv-', lpad(cast(user_id AS string), 8, '0'))           AS conv_id,
  cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int)
                                                                    AS turn_idx,
  CASE event_type
    WHEN 'click' THEN 'user'
    WHEN 'view' THEN 'assistant'
    WHEN 'error' THEN 'system'
    WHEN 'purchase' THEN 'tool'
    ELSE 'user'
  END                                                               AS role,
  CASE event_type
    WHEN 'error' THEN concat(
        'ts_us=', cast({TS_US} AS string),
        ' level=', CASE WHEN event_id % 3 = 0 THEN 'ERROR'
                        WHEN event_id % 3 = 1 THEN 'WARN' ELSE 'INFO' END,
        ' msg="event ', cast(event_id AS string), ' failed"',
        ' code=', cast(cast(round(value * 100) AS bigint) % 1000 AS string),
        CASE WHEN event_id % 2 = 0 THEN ' retry=true' ELSE '' END)
    WHEN 'view' THEN concat(
        'name=view_latency value=',
        cast(cast(round(value * 100) AS bigint) AS string), ' unit=ms')
    WHEN 'click' THEN concat(
        'name=click_depth value=',
        cast(cast(round(value * 100) AS bigint) % 100 AS string), ' unit=count')
    WHEN 'purchase' THEN concat(
        'span=', lpad(cast(event_id AS string), 16, '0'),
        ' parent=', lpad(cast(user_id AS string), 8, '0'),
        ' dur_ms=', cast(cast(round(value * 100) AS bigint) % 10000 AS string))
    ELSE concat('!!corrupt payload ', cast(event_id AS string))
  END                                                               AS text,
  CASE WHEN event_type IN ('click', 'purchase')
       THEN concat('tool-', cast(user_id % 7 AS string)) END        AS tool,
  ts                                                                AS ts
FROM {EVENTS}
"""


def transcripts_sql(events_relation: str, dialect: str) -> str:
    ts_us = {
        "spark": "unix_micros(cast(ts AS timestamp))",
        "duckdb": "epoch_us(ts)",
    }[dialect]
    return TRANSCRIPTS_SQL_TEMPLATE.format(TS_US=ts_us, EVENTS=events_relation)


def duckdb_transcripts_cte() -> str:
    """``WITH transcripts AS (...)`` prefix for DuckDB oracle SQL."""
    return f"WITH transcripts AS ({transcripts_sql('events', 'duckdb')})"


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical transcripts table derived from the driver's events parquet."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.createOrReplaceTempView("__oaas_events")
    return spark.sql(transcripts_sql("__oaas_events", "spark"))


# ---------------------------------------------------------------------------
# Distributed synthetic generator (bench / skew / property tests)
# ---------------------------------------------------------------------------

_LOREM = [
    "connection reset by peer", "cache miss on shard", "retrying upstream call",
    "checkpoint flushed", "token budget exceeded", "schema updated",
    "dictionary overflow detected", "stream rotated", "batch acknowledged",
]


def synthesize_transcripts(
    spark: SparkSession,
    n_convs: int = 2_000,
    mean_turns: int = 25,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Seeded, fully-distributed transcripts generator.

    Power-law-ish skew: 2% of conversations get 40× the mean turn count
    (the "80% of turns in 20% of convs" shape from FIXTURES.md F1,
    exaggerated so skew handling is actually exercised). Generation is
    `range -> column exprs -> explode`,
    so it scales linearly with executors and needs no driver memory.
    """
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    conv = (
        spark.range(0, n_convs, 1, partitions)
        .withColumn("conv_id", F.format_string("conv-%08d", F.col("id")))
        # xxhash64 gives a stable pseudo-random stream keyed by (seed, id)
        .withColumn("h", F.abs(F.xxhash64(F.col("id"), F.lit(seed))))
        .withColumn(
            "n_turns",
            F.when(
                (F.col("h") % 1000) < 20,
                F.lit(mean_turns * 40),
            ).otherwise((F.col("h") % (2 * mean_turns - 1)) + 1),
        )
    )

    t = (
        conv.select(
            "conv_id",
            "id",
            F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
        )
        .withColumn("turn_idx", F.col("turn_idx").cast("int"))
        .withColumn("r", F.abs(F.xxhash64("conv_id", "turn_idx", F.lit(seed))))
    )

    sev = (
        F.when(F.col("r") % 17 % 3 == 0, F.lit("ERROR"))
        .when(F.col("r") % 17 % 3 == 1, F.lit("WARN"))
        .otherwise(F.lit("INFO"))
    )
    msg = F.lit(_LOREM)[(F.col("r") % len(_LOREM)).cast("int")]
    shape = F.col("r") % 10  # 0-3 log, 4-6 metric, 7-8 trace, 9 malformed

    text = (
        F.when(
            shape <= 3,
            F.concat(
                F.lit("ts_us="),
                (F.lit(1_704_067_200_000_000) + F.col("r") % 86_400_000_000).cast("string"),
                F.lit(" level="), sev,
                F.lit(' msg="'), msg, F.lit('"'),
                F.lit(" code="), (F.col("r") % 1000).cast("string"),
                # optional-field dropping, like RandomLogRecord (datagen/logs.go:116-147)
                F.when(F.col("r") % 5 < 3, F.concat(F.lit(" retry="), (F.col("r") % 2 == 0).cast("string"))).otherwise(F.lit("")),
            ),
        )
        .when(
            shape <= 6,
            F.concat(
                F.lit("name="),
                F.when(F.col("r") % 2 == 0, F.lit("view_latency")).otherwise(F.lit("click_depth")),
                F.lit(" value="), (F.col("r") % 100_000).cast("string"),
                F.when(F.col("r") % 3 != 0, F.lit(" unit=ms")).otherwise(F.lit("")),
            ),
        )
        .when(
            shape <= 8,
            F.concat(
                F.lit("span="), F.lpad((F.col("r") % 1_000_000_000).cast("string"), 16, "0"),
                F.lit(" parent="), F.lpad((F.col("r") % 100_000).cast("string"), 8, "0"),
                F.lit(" dur_ms="), (F.col("r") % 10_000).cast("string"),
            ),
        )
        .otherwise(F.concat(F.lit("!!corrupt payload "), F.col("r").cast("string")))
    )

    role = (
        F.when(shape <= 3, F.lit("system"))
        .when(shape <= 6, F.when(F.col("r") % 2 == 0, F.lit("assistant")).otherwise(F.lit("user")))
        .when(shape <= 8, F.lit("tool"))
        .otherwise(F.lit("user"))
    )
    tool = F.when(
        (shape >= 4) & (shape <= 8) & (F.col("r") % 11 != 0),
        F.concat(F.lit("tool-"), (F.col("r") % 50).cast("string")),
    )
    ts = F.timestamp_micros(
        F.lit(1_704_067_200_000_000)
        + F.col("id") * 3_600_000_000
        + F.col("turn_idx").cast("long") * 15_000_000
    )

    return t.select(
        "conv_id",
        "turn_idx",
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def synthesize_tool_catalog(spark: SparkSession, n_tools: int = 45) -> DataFrame:
    """Broadcast enrichment lookup (FIXTURES.md F2).

    Covers tool-0..tool-{n_tools-1}; the generator emits up to tool-49, so
    the uncovered tail exercises the unknown-tool quarantine path. The
    events-derived transcripts use tool-0..tool-6 (all covered except the
    oracle variant keeps tool-6 out when n_tools<=6).
    """
    return (
        spark.range(0, n_tools, 1, 1)
        .select(
            F.format_string("tool-%d", F.col("id")).alias("tool"),
            F.format_string("service-%d", F.col("id") % 10).alias("service_name"),
            F.map_from_arrays(
                F.array(F.lit("team"), F.lit("tier")),
                F.array(
                    F.format_string("team-%d", F.col("id") % 5),
                    F.when(F.col("id") % 3 == 0, F.lit("critical")).otherwise(F.lit("standard")),
                ),
            ).alias("resource_attrs"),
        )
    )


def synthesize_tool_catalog_versions(spark: SparkSession, n_tools: int = 7) -> DataFrame:
    """SCD2 versioned tool catalog for the as-of enrichment: every tool has
    a v1 row valid from the epoch and a v2 row (renamed service) valid from
    2024-01-15 — mid-way through the events table's timestamp range, so
    both versions are actually selected by real rows. Deterministic pure
    column expressions; trivially replayed by the DuckDB oracle."""
    v1 = spark.range(0, n_tools, 1, 1).select(
        F.format_string("tool-%d", F.col("id")).alias("tool"),
        F.lit(1_704_067_200_000_000).alias("valid_from_us"),  # 2024-01-01
        F.format_string("service-%d", F.col("id") % 10).alias("service_name"),
    )
    v2 = spark.range(0, n_tools, 1, 1).select(
        F.format_string("tool-%d", F.col("id")).alias("tool"),
        F.lit(1_705_276_800_000_000).alias("valid_from_us"),  # 2024-01-15
        F.format_string("service-v2-%d", F.col("id") % 5).alias("service_name"),
    )
    return v1.unionByName(v2)
