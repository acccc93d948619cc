"""Engine-portable seeded pseudo-randomness: the nested generators' seeds
and the library's md5 bucket draw.

The reference's generators are seeded RNG streams
(/root/reference/pkg/datagen/logs.go:39-66); our generators derive every
field from a hash of (row id, seed) so generation stays a pure column
expression. That hash must be REPLAYABLE BY THE ORACLE: xxhash64 is
Spark-only, so any generator seeded with it can never be DuckDB-checked
(the round-3 rows-only queries). md5 is the portable idiom already used by
weighted_split/span_links — both engines produce identical digests for
identical strings.

``seed_hash`` yields a 60-bit non-negative long (15 hex chars < 2^63), so
all downstream pmod arithmetic is overflow- and sign-safe in both engines.
``md5_bucket`` is the library's one hash draw into ``n`` buckets: the first
12 hex chars of md5 as a uint48, mod ``n`` — the sampling, shard, split,
count-min and encode-bucket draws all use it, and their DuckDB oracles
replay it as ``CAST('0x' || substr(md5(s), 1, 12) AS UBIGINT) % n``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def seed_hash(col: Column, seed: int) -> Column:
    """Spark side: non-negative 60-bit long from md5(f"{col}:{seed}")."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", col.cast("string"), F.lit(str(seed)))), 1, 15),
        16,
        10,
    ).cast("long")


def md5_bucket(s: Column, n: int) -> Column:
    """Engine-portable draw of ``s`` (cast to string) into [0, n): the
    first 12 hex chars of md5(s) as a uint48, pmod ``n``; a long."""
    return F.pmod(
        F.conv(F.substring(F.md5(s.cast("string")), 1, 12), 16, 10).cast("long"), F.lit(n)
    )
