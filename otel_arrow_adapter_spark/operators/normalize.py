"""P2 + W4: resource/scope surrogate IDs and stable turn ordering.

The reference assigns a canonical small-int ID per distinct
(resource, schemaUrl) / (scope, schemaUrl) by first-seen map lookup during a
single pass (/root/reference/pkg/otel/logs/arrow/optimizer.go:83-99, hashes
in pkg/otel/common/otlp/ids.go). Two Spark-native strategies:

- ``mode="dense"``: ONE dimension pass for both ids, as the reference
  gives a record both ids in one walk: one aggregation collects the
  sorted distinct (resource, scope) keys, each key's res_id / scope_id is
  its value's rank among the distinct resource / scope values (the order
  of :func:`ranked_dim`), and one null-safe broadcast join attaches both.
  Deterministic small ints (ordered by value, not first-seen — first-seen
  order is batch-order-dependent and meaningless under distributed
  execution). Scale note: the aggregate ships only distinct keys (~50
  tools x 4 roles) to one task, O(dims), never O(rows); the fact side
  pays one O(1) hash probe per row.
- ``mode="hash"``: xxhash64 content hash, the ids.go approach — no shuffle
  at all, ideal at 10^12 rows; IDs are stable but not dense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _rank(
    df: DataFrame,
    fields: list,
    cols: tuple[str, ...],
    id_name: str,
    id_type: str,
    start: int,
) -> DataFrame:
    """Windowless global rank of a small frame: ``cols`` plus ``id_name``
    (``start``-based position in the ascending sort of ``fields``).

    collect_list(struct) -> sort_array -> posexplode: one reduce of a small
    array instead of a single-partition window (Spark strips foldable
    partition keys, so a window here always funnels through one task AND
    warns). Struct comparison sorts field by field, null fields first —
    matching the oracles' ``ORDER BY ... ASC NULLS FIRST``. Only for
    dictionary- or k-small inputs: the sorted array lives in one task."""
    arr = F.sort_array(F.collect_list(F.struct(*fields)))
    return (
        df.agg(arr.alias("_vals"))
        .select(F.posexplode("_vals").alias("_pos", "_s"))
        .select(
            *[F.col(f"_s.{c}").alias(c) for c in cols],
            (F.col("_pos") + F.lit(start)).cast(id_type).alias(id_name),
        )
    )


def ranked_dim(
    df: DataFrame,
    cols: tuple[str, ...],
    id_name: str,
    id_type: str = "long",
    start: int = 1,
) -> DataFrame:
    """Global dense rank over a DISTINCT dimension, windowless (see
    :func:`_rank`)."""
    return _rank(df.select(*cols).distinct(), list(cols), cols, id_name, id_type, start)


def top_k(scored: DataFrame, score: str, key: str, k: int) -> DataFrame:
    """(key, score, rank int from 1) of the ``k`` highest scores, ties by
    ascending key. orderBy+limit compiles to TakeOrderedAndProject —
    distributed partial top-k per partition, k rows to the driver —
    instead of a global row_number window over every score; the k
    survivors are then ranked by :func:`_rank`."""
    top = scored.orderBy(F.desc(score), F.asc(key)).limit(k)
    fields = [(-F.col(score)).alias("_neg"), key, score]
    return _rank(top, fields, (key, score), "rank", "int", 1)


# the columns that identify a turn's resource and its scope
RESOURCE_COLS = ("tool",)
SCOPE_COLS = ("role",)


def assign_surrogate_ids(df: DataFrame, mode: str = "dense") -> DataFrame:
    """Add res_id / scope_id surrogate key columns over ``RESOURCE_COLS``
    and ``SCOPE_COLS``."""
    if mode == "hash":
        return df.withColumn(
            "res_id", F.xxhash64(*[F.coalesce(F.col(c), F.lit("")) for c in RESOURCE_COLS])
        ).withColumn(
            "scope_id", F.xxhash64(*[F.coalesce(F.col(c), F.lit("")) for c in SCOPE_COLS])
        )

    # One aggregation collects the distinct (resource, scope) keys; a key's
    # id in each dimension is its value's 1-based position among that
    # dimension's sorted distinct values (ranked_dim's order, null fields
    # first), worked out on the one-row side.
    keys = list(dict.fromkeys(RESOURCE_COLS + SCOPE_COLS))
    ids = {"res_id": RESOURCE_COLS, "scope_id": SCOPE_COLS}

    def proj(s, cols):
        return F.struct(*[s[c].alias(c) for c in cols])

    def ranks(cols):
        return F.sort_array(F.array_distinct(F.transform("_k", lambda s: proj(s, cols))))

    dim = (
        df.agg(F.collect_set(F.struct(*keys)).alias("_k"))
        .select(
            F.explode("_k").alias("_s"),
            *[ranks(cols).alias(f"_{n}") for n, cols in ids.items()],
        )
        .select(
            *[F.col(f"_s.{c}").alias(f"__dim_{c}") for c in keys],
            *[F.array_position(f"_{n}", proj(F.col("_s"), cols)).alias(n) for n, cols in ids.items()],
        )
    )
    # null-safe join keys: the null dim value IS a resource (the reference
    # hashes the empty resource to a real ID, ids.go) — a plain equi-join
    # would leave its rows without a surrogate.
    cond = None
    for c in keys:
        e = F.col(c).eqNullSafe(F.col(f"__dim_{c}"))
        cond = e if cond is None else cond & e
    return df.join(F.broadcast(dim), on=cond, how="left").drop(*[f"__dim_{c}" for c in keys])


def stable_turn_order(df: DataFrame) -> DataFrame:
    """W4: total order within a conversation — row_number over
    (conv_id, turn_idx). Salting upstream shuffles never breaks this order
    because the window re-sorts within each conv_id partition."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_order", F.row_number().over(w))

