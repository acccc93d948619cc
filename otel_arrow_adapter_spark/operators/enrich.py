"""J4: broadcast-lookup enrichment (tool -> service/resource metadata).

The reference's decode side resolves surrogate keys against small in-memory
stores (/root/reference/pkg/otel/common/otlp/attributes.go:133-226); our
enrichment analog is a null-safe broadcast left join against the tool
catalog. Unknown tools are *flagged*, not dropped — the quarantine decision
is the router's (error-not-crash discipline of
pkg/otel/logs/otlp/logs.go:145-154).

Scale: the catalog is O(100) rows — always broadcast; zero shuffle on the
fact side regardless of fact size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_with_catalog(df: DataFrame, catalog: DataFrame) -> DataFrame:
    """Left-join catalog on ``tool``; adds service_name, resource_attrs,
    tool_known (false = tool present but not in catalog)."""
    cat = catalog.withColumn("tool_known", F.lit(True))
    out = df.join(F.broadcast(cat), on="tool", how="left")
    return out.withColumn(
        "tool_known",
        F.when(F.col("tool").isNull(), F.lit(None).cast("boolean")).otherwise(
            F.coalesce(F.col("tool_known"), F.lit(False))
        ),
    )


def enrich_asof(df: DataFrame, versions: DataFrame) -> DataFrame:
    """Temporal (as-of / SCD2) enrichment: each row gets the
    ``service_name`` of its ``tool``'s version in effect AT ITS
    TIMESTAMP — the newest version with valid_from_us <= ts.

    The reference has no as-of join (SURVEY §2.3); this is the Spark-first
    design for the dimension-sized case: the version table collapses to
    ONE row per key carrying its versions as a valid_from-sorted array,
    broadcast-joined, and the as-of lookup is a pure array expression
    (filter + element_at(-1)) — ZERO shuffle on the fact side at any
    scale, where the naive range join would shuffle 10^12 rows or explode
    the fact table by the version count."""
    per_key = versions.groupBy("tool").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("valid_from_us").alias("_vf"), "service_name"))
        ).alias("_versions")
    )
    out = df.join(F.broadcast(per_key), on="tool", how="left")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    # try_element_at: rows predating every version filter to an empty
    # array, where plain element_at(-1) RAISES under ANSI mode
    current = F.try_element_at(
        F.filter(F.col("_versions"), lambda v: v["_vf"] <= ts_us), F.lit(-1)
    )
    return out.withColumn("service_name", current["service_name"]).drop("_versions")
