"""Conversation-grain training-data operators over the transcripts table.

The transcripts input (``conv_id, turn_idx, role, text, tool, ts`` —
BASELINE.json ``input_hint``) is what an LLM training pipeline curates
*before* documents exist: instruction pairs are mined from chat logs and
whole conversations are deduplicated as units (a duplicated conversation
duplicates every turn, so turn-grain dedup alone under-counts).

Both operators are pure column expressions / single-shuffle aggregations —
no Python in the data path, exact DuckDB oracles.

Scale notes (100 TB):

* ``sft_pairs`` is ONE window shuffle on ``conv_id`` (the same
  partitioning the stable-turn-ordering invariant already requires, so in
  a fused pipeline the exchange is reused); per-conversation work is a
  linear scan.
* ``conv_dedup`` never materializes a conversation in memory: the
  conversation fingerprint is an order-FAITHFUL but order-INSENSITIVE
  combine — sum over turns of md5(turn_idx ':' normalized_text) — so it
  map-side-combines like any sum and needs no collect_list/window. Turn
  position is encoded INSIDE each hashed term, so two conversations with
  the same turns in different order still fingerprint differently (the
  per-term hash changes with turn_idx), while Spark is free to add terms
  in any order. Two shuffles total, each of tiny fixed-width rows:
  by conv_id (O(turns) in, O(convs) out via partial aggregation), then by
  fingerprint (O(convs)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import token_count

# 15 hex chars = 60 bits: fits bigint exactly in Spark AND casts cleanly
# from '0x…' in DuckDB (UBIGINT), leaving 2^63/2^60 = 8 bits of headroom
# lost to none — the decimal(38,0) running sum absorbs any turn count.
_FP_HEX_CHARS = 15


def sft_pairs(turns: DataFrame) -> DataFrame:
    """Mine (prompt, completion) SFT pairs: each ``user`` turn paired with
    the IMMEDIATELY following ``assistant`` turn under stable turn ordering
    (the per-turn invariant the whole pipeline guarantees). Non-adjacent
    user/assistant turns — e.g. user → tool → assistant — are deliberately
    excluded: the completion must be the direct response.

    Returns one row per pair: conv_id, prompt_turn_idx, prompt, completion,
    n_prompt_tokens, n_completion_tokens.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt_role = F.lead("role").over(w)
    nxt_text = F.lead("text").over(w)
    return (
        turns.select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            nxt_role.alias("_nrole"),
            nxt_text.alias("_ntext"),
        )
        .where((F.col("role") == "user") & (F.col("_nrole") == "assistant"))
        .select(
            "conv_id",
            F.col("turn_idx").alias("prompt_turn_idx"),
            F.col("text").alias("prompt"),
            F.col("_ntext").alias("completion"),
            token_count(F.col("text")).alias("n_prompt_tokens"),
            token_count(F.col("_ntext")).alias("n_completion_tokens"),
        )
    )


def _turn_term(norm_text):
    """Position-encoded 60-bit hash of one turn (decimal for safe sums)."""
    h = F.md5(F.concat_ws(":", F.col("turn_idx").cast("string"), norm_text))
    return F.conv(F.substring(h, 1, _FP_HEX_CHARS), 16, 10).cast("decimal(38,0)")


def conv_fingerprints(turns: DataFrame) -> DataFrame:
    """Per-conversation content fingerprint WITHOUT assembling the
    conversation: ``(fp, n_turns)`` where ``fp = sum over turns of
    md5(turn_idx ':' text')`` (60-bit terms, decimal sum). The text is
    digit-stripped first — the C4-style aggressive normalization that
    makes template-identical conversations (same event shapes, different
    ids/values) collide, which is the near-dup grain conversation
    curation actually wants."""
    norm = F.regexp_replace(F.col("text"), "[0-9]+", "")
    return turns.groupBy("conv_id").agg(
        F.sum(_turn_term(norm)).alias("_fp_sum"),
        F.count(F.lit(1)).alias("n_turns"),
    )


def conv_dedup(turns: DataFrame) -> DataFrame:
    """Conversation-level keep-first dedup groups: conversations with the
    same (fingerprint, n_turns) form one group; the minimum ``conv_id`` is
    the kept representative (deterministic, matching the document-grain
    ``clean_corpus`` rule). Returns one row per group:
    (rep_conv_id, n_convs, n_turns, fp:string)."""
    fps = conv_fingerprints(turns)
    return fps.groupBy("_fp_sum", "n_turns").agg(
        F.min("conv_id").alias("rep_conv_id"),
        F.count(F.lit(1)).alias("n_convs"),
    ).select(
        "rep_conv_id",
        "n_convs",
        "n_turns",
        F.col("_fp_sum").cast("string").alias("fp"),
    )


def conv_quality(turns: DataFrame) -> DataFrame:
    """Conversation-structure quality signals — the conversation-grain
    analog of the document ``quality_score`` filter, applied before SFT
    mining: 2 to 200 turns, both roles present, and a role alternation
    rate of at least 0.5 (fraction of adjacent turn pairs that switch
    roles; a wall of same-role turns is scraper noise, not dialogue).
    Returns every
    conversation with its stats and a ``keep`` flag (flag, don't filter —
    downstream stages choose).

    Scale shape: one window + one groupBy, both partitioned by conv_id —
    the same exchange the stable-turn-ordering invariant already needs, so
    a fused curation pipeline reuses it. Aggregates are sums/counts
    (map-side combine); no conversation is ever materialized in memory.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt_role = F.lead("role").over(w)
    per = turns.select(
        "conv_id",
        "role",
        token_count(F.col("text")).alias("_nt"),
        F.when(nxt_role.isNotNull(), (F.col("role") != nxt_role).cast("int")).alias("_alt"),
    )
    agg = per.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("_nt").alias("n_tokens"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("n_user"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias("n_assistant"),
        F.sum("_alt").alias("_n_alt"),
    )
    alt_rate = F.when(
        F.col("n_turns") > 1, F.col("_n_alt") / (F.col("n_turns") - 1)
    ).otherwise(F.lit(1.0))
    keep = (
        F.col("n_turns").between(2, 200)
        & (F.col("n_user") > 0)
        & (F.col("n_assistant") > 0)
        & (alt_rate >= 0.5)
    )
    return agg.select(
        "conv_id",
        "n_turns",
        "n_tokens",
        "n_user",
        "n_assistant",
        F.round(alt_rate, 6).alias("alternation_rate"),
        keep.alias("keep"),
    )
