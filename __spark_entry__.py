"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse->enrich->route->aggregate counts.
``queries()`` exposes one callable per implemented operator (SURVEY.md §2);
the bodies live in the ``otel_arrow_adapter_spark.queries`` family modules
and ``QUERIES`` fixes their names and order. ``oracle_sql()`` gives the
DuckDB-equivalent SQL over the pre-registered views. Pipeline queries
operate on the canonical ``transcripts`` table derived deterministically
from the ``events`` view (same SQL both engines — see
otel_arrow_adapter_spark/datagen/transcripts.py), so every pipeline stage
is oracle-checkable.
"""
from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from otel_arrow_adapter_spark.datagen.transcripts import duckdb_transcripts_cte  # noqa: E402
from otel_arrow_adapter_spark.operators.metrics_dp import exp2_lower_bound  # noqa: E402
from otel_arrow_adapter_spark.queries import (  # noqa: E402
    capture,
    docs,
    embeddings,
    metrics,
    pipeline,
    tables,
)
from otel_arrow_adapter_spark.queries.pipeline import N_CATALOG_TOOLS  # noqa: E402
from otel_arrow_adapter_spark.shipping import ensure_shipped  # noqa: E402


def _exp_hist_bucket_sql(max_buckets: int, scale: int) -> tuple[str, str]:
    """DuckDB bucket-sum expressions for the exp-histogram oracles: the
    SAME exact integer boundaries (nested-isqrt exp2_lower_bound) the Spark
    rollup compares against, rendered as SQL literals — both engines only
    ever compare integers, at any scale."""
    bounds = [exp2_lower_bound(i, scale) for i in range(max_buckets)]
    pos = ",\n".join(
        [
            f"    sum(CASE WHEN v >= {bounds[i]} AND v < {bounds[i + 1]} THEN 1 ELSE 0 END)::BIGINT"
            for i in range(max_buckets - 1)
        ]
        + [f"    sum(CASE WHEN v >= {bounds[-1]} THEN 1 ELSE 0 END)::BIGINT"]
    )
    neg = ",\n".join(
        [
            f"    sum(CASE WHEN v <= {-bounds[i]} AND v > {-bounds[i + 1]} THEN 1 ELSE 0 END)::BIGINT"
            for i in range(max_buckets - 1)
        ]
        + [f"    sum(CASE WHEN v <= {-bounds[-1]} THEN 1 ELSE 0 END)::BIGINT"]
    )
    return pos, neg


def _trim_exp_sql(col: str) -> tuple[str, str]:
    """DuckDB (offset, trimmed-csv) expressions over a dense bucket list —
    the oracle mirror of metrics_dp.trim_exp_buckets (both engines'
    position function returns 0 when nothing matches)."""
    nz = f"list_transform({col}, x -> x <> 0)"
    first = f"list_position({nz}, true)"
    last = f"(len({col}) - list_position(list_reverse({nz}), true) + 1)"
    offset = f"CAST(CASE WHEN {first} = 0 THEN 0 ELSE {first} - 1 END AS INTEGER)"
    trimmed = (
        f"CASE WHEN {first} = 0 THEN '' "
        f"ELSE array_to_string({col}[{first}:{last}], ',') END"
    )
    return offset, trimmed


def _exp_quantile_edges_sql(max_buckets: int, scale: int) -> tuple[str, str]:
    """DuckDB (est_lo, est_hi) CASE chains mapping a signed BIGINT v to its
    exp-histogram bucket edges — the oracle mirror of
    metrics_dp.exp_hist_quantiles: the slot whose cumulative count first
    reaches rank q IS the bucket containing the rank-q value, so mapping
    the exact rank-q value to its bucket edges replays the sketch estimate
    bit-for-bit (same exp2_lower_bound integer literals on both engines)."""
    bounds = [exp2_lower_bound(i, scale) for i in range(max_buckets + 1)]
    lo = ["CASE WHEN v = 0 THEN CAST(0 AS BIGINT)"]
    hi = ["CASE WHEN v = 0 THEN CAST(0 AS BIGINT)"]
    for i in range(max_buckets - 1, -1, -1):
        lo.append(f"WHEN v >= {bounds[i]} THEN CAST({bounds[i]} AS BIGINT)")
        hi.append(f"WHEN v >= {bounds[i]} THEN CAST({bounds[i + 1]} AS BIGINT)")
    for i in range(max_buckets - 1, -1, -1):
        lo.append(f"WHEN v <= {-bounds[i]} THEN CAST({-bounds[i + 1]} AS BIGINT)")
        hi.append(f"WHEN v <= {-bounds[i]} THEN CAST({-bounds[i]} AS BIGINT)")
    return " ".join(lo) + " END", " ".join(hi) + " END"


# DuckDB prelude shared by all pipeline oracles: transcripts CTE + catalog.
_CTE = (
    duckdb_transcripts_cte()
    + """,
tool_catalog AS (
  SELECT 'tool-' || CAST(i AS VARCHAR) AS tool,
         'service-' || CAST(i % 10 AS VARCHAR) AS service_name
  FROM range(0, {n}) t(i)
),
classified AS (
  SELECT t.*,
    CASE
      WHEN regexp_matches(t.text, '^ts_us=[0-9]+ level=') THEN 'log'
      WHEN regexp_matches(t.text, '^name=[a-z_]+ value=') THEN 'metric'
      WHEN regexp_matches(t.text, '^span=[0-9a-f]{{16}} parent=') THEN 'trace'
      ELSE 'quarantine'
    END AS signal_type,
    (t.tool IS NOT NULL AND c.tool IS NULL) AS bad_tool,
    c.service_name AS service_name
  FROM transcripts t LEFT JOIN tool_catalog c USING (tool)
)
""".format(n=N_CATALOG_TOOLS)
)


_DOCS_PLUS_SQL = """
WITH docs_plus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' near duplicate tail' AS text
  FROM documents WHERE doc_id % 7 = 0
)"""

# normalized text + distinct word-3-gram shingles, DuckDB form
_SHINGLES_SQL = _DOCS_PLUS_SQL + """,
toks AS (
  SELECT doc_id,
    string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM docs_plus
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
  )
)"""


# quality/token scoring over docs_plus, DuckDB form — shared by the exact
# and near-dup corpus-cleaning oracles (mirrors functions/text.py
# quality_score / token_count / fingerprint exactly)
_SCORED_SQL = """,
f AS (
  SELECT doc_id,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x IN ('the','a','of','and','to','in','is','it'))) END AS h_sw,
    length(lower(text)) AS n_low,
    length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS n_stripped
  FROM docs_plus
), scored AS (
  SELECT doc_id, fp, CAST(n AS BIGINT) AS n_tokens,
    least(n / 50.0, 1.0) * 0.4
    + (CASE WHEN (CASE WHEN n > 0 THEN h_sw / CAST(n AS DOUBLE) ELSE 0.0 END) > 0.01
             AND (CASE WHEN n > 0 THEN h_sw / CAST(n AS DOUBLE) ELSE 0.0 END) < 0.6
            THEN 1.0 ELSE 0.3 END) * 0.3
    + (1.0 - least((CASE WHEN n_low > 0
                         THEN (n_low - n_stripped) / CAST(n_low AS DOUBLE)
                         ELSE 0.0 END) * 5, 1.0)) * 0.3 AS q
  FROM f
)"""

# MinHash-LSH candidates -> exact-Jaccard-verified pairs, DuckDB CTE chain
# shared by the pair query and the connected-components cluster oracle
_JACCARD_CTES = """,
sig AS (
  SELECT doc_id,
    min(substr(md5('0:' || shingle), 1, 8)) AS s0, min(substr(md5('0:' || shingle), 9, 8)) AS s1,
    min(substr(md5('0:' || shingle), 17, 8)) AS s2, min(substr(md5('0:' || shingle), 25, 8)) AS s3,
    min(substr(md5('1:' || shingle), 1, 8)) AS s4, min(substr(md5('1:' || shingle), 9, 8)) AS s5,
    min(substr(md5('1:' || shingle), 17, 8)) AS s6, min(substr(md5('1:' || shingle), 25, 8)) AS s7
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, 0 AS band, md5(concat_ws('|', s0, s1)) AS bucket FROM sig
  UNION ALL SELECT doc_id, 1, md5(concat_ws('|', s2, s3)) FROM sig
  UNION ALL SELECT doc_id, 2, md5(concat_ws('|', s4, s5)) FROM sig
  UNION ALL SELECT doc_id, 3, md5(concat_ws('|', s6, s7)) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b,
    round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
)"""


# Order matters: the driver samples the first 50 entries, in order, for its
# oracle-correctness gate.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "doc_token_cms": docs.q_doc_token_cms,
    "doc_incremental_dedup": docs.q_doc_incremental_dedup,
    "doc_bm25_topk": docs.q_doc_bm25_topk,
    "doc_source_kl_drift": docs.q_doc_source_kl_drift,
    "emb_ivfpq_search": embeddings.q_emb_ivfpq_search,
    "doc_bigram_logprob": docs.q_doc_bigram_logprob,
    "emb_pq_codes": embeddings.q_emb_pq_codes,
    "emb_pq_search": embeddings.q_emb_pq_search,
    "emb_pca_moments": embeddings.q_emb_pca_moments,
    "doc_quantile_filter": docs.q_doc_quantile_filter,
    "doc_dup_spans": docs.q_doc_dup_spans,
    "emb_semdedup": embeddings.q_emb_semdedup,
    "doc_shard_shuffle": docs.q_doc_shard_shuffle,
    "doc_dsir_weights": docs.q_doc_dsir_weights,
    "doc_leakage_free_split": docs.q_doc_leakage_free_split,
    "doc_token_budget_sample": docs.q_doc_token_budget_sample,
    "pipeline_pb_traces_roundtrip": capture.q_pipeline_pb_traces_roundtrip,
    "pipeline_parse_logs": pipeline.q_pipeline_parse_logs,
    "pipeline_parse_logs_arrow": pipeline.q_pipeline_parse_logs_arrow,
    "pipeline_parse_logs_grok": pipeline.q_pipeline_parse_logs_grok,
    "pipeline_parse_metrics": pipeline.q_pipeline_parse_metrics,
    "pipeline_parse_traces": pipeline.q_pipeline_parse_traces,
    "pipeline_metrics_number_dp": metrics.q_pipeline_metrics_number_dp,
    "pipeline_metrics_hist_dp": metrics.q_pipeline_metrics_hist_dp,
    "pipeline_metrics_exp_hist_dp": metrics.q_pipeline_metrics_exp_hist_dp,
    "pipeline_metrics_summary_dp": metrics.q_pipeline_metrics_summary_dp,
    "pipeline_metrics_temporality": metrics.q_pipeline_metrics_temporality,
    "pipeline_metrics_exemplars": metrics.q_pipeline_metrics_exemplars,
    "doc_clean_corpus": docs.q_doc_clean_corpus,
    "doc_minhash_sig": docs.q_doc_minhash_sig,
    "pipeline_metrics_exp_hist_scale": metrics.q_pipeline_metrics_exp_hist_scale,
    "pipeline_metrics_exp_hist_merge": metrics.q_pipeline_metrics_exp_hist_merge,
    "pipeline_pb_capture_roundtrip": capture.q_pipeline_pb_capture_roundtrip,
    "pipeline_pb_metrics_roundtrip": capture.q_pipeline_pb_metrics_roundtrip,
    "pipeline_otlp_json_roundtrip": capture.q_pipeline_otlp_json_roundtrip,
    "pipeline_otlp_json_traces_roundtrip": capture.q_pipeline_otlp_json_traces_roundtrip,
    "pipeline_otlp_json_metrics_roundtrip": capture.q_pipeline_otlp_json_metrics_roundtrip,
    "doc_pii_redact": docs.q_doc_pii_redact,
    "doc_decontaminate": docs.q_doc_decontaminate,
    "doc_stratified_sample": docs.q_doc_stratified_sample,
    "doc_simhash_near_dups": docs.q_doc_simhash_near_dups,
    "doc_dedup_exact": docs.q_doc_dedup_exact,
    "doc_source_profile": docs.q_doc_source_profile,
    "doc_pack_offsets": docs.q_doc_pack_offsets,
    "doc_chunk_spans": docs.q_doc_chunk_spans,
    "doc_tfidf_terms": docs.q_doc_tfidf_terms,
    "doc_length_histogram": docs.q_doc_length_histogram,
    "doc_repetition_scores": docs.q_doc_repetition_scores,
    "emb_quantized_topk": embeddings.q_emb_quantized_topk,
    "events_latency_quantiles_sketch": tables.q_events_latency_quantiles_sketch,
    "doc_unigram_logprob": docs.q_doc_unigram_logprob,
    "doc_lsh_candidates": docs.q_doc_lsh_candidates,
    "doc_jaccard_pairs": docs.q_doc_jaccard_pairs,
    "doc_dup_clusters": docs.q_doc_dup_clusters,
    "doc_clean_corpus_near": docs.q_doc_clean_corpus_near,
    "doc_boilerplate_ngrams": docs.q_doc_boilerplate_ngrams,
    "emb_dup_clusters": embeddings.q_emb_dup_clusters,
    "conv_sft_pairs": pipeline.q_conv_sft_pairs,
    "conv_quality": pipeline.q_conv_quality,
    "conv_dedup": pipeline.q_conv_dedup,
    "pipeline_severity_rollup": pipeline.q_pipeline_severity_rollup,
    "pipeline_sink_counts": pipeline.q_pipeline_sink_counts,
    "pipeline_enrich_services": pipeline.q_pipeline_enrich_services,
    "pipeline_enrich_asof": pipeline.q_pipeline_enrich_asof,
    "pipeline_attrs_melt": pipeline.q_pipeline_attrs_melt,
    "pipeline_stable_order": pipeline.q_pipeline_stable_order,
    "pipeline_dict_tool": pipeline.q_pipeline_dict_tool,
    "pipeline_delta_encode": pipeline.q_pipeline_delta_encode,
    "pipeline_route_quarantine": pipeline.q_pipeline_route_quarantine,
    "pipeline_roundtrip": pipeline.q_pipeline_roundtrip,
    "pipeline_obfuscate": pipeline.q_pipeline_obfuscate,
    "pipeline_schema_analyzer": pipeline.q_pipeline_schema_analyzer,
    "pipeline_weighted_split": pipeline.q_pipeline_weighted_split,
    "pipeline_field_frequencies": pipeline.q_pipeline_field_frequencies,
    "pipeline_delta_ids": pipeline.q_pipeline_delta_ids,
    "pipeline_metrics_dp_records": metrics.q_pipeline_metrics_dp_records,
    "pipeline_metrics_multivariate": metrics.q_pipeline_metrics_multivariate,
    "pipeline_span_events": pipeline.q_pipeline_span_events,
    "pipeline_span_links": pipeline.q_pipeline_span_links,
    "pipeline_span_event_wiring": pipeline.q_pipeline_span_event_wiring,
    "pipeline_trace_records": pipeline.q_pipeline_trace_records,
    "media_frame_sample": tables.q_media_frame_sample,
    "media_features": tables.q_media_features,
    "pipeline_change_detect": pipeline.q_pipeline_change_detect,
    "pipeline_sink_rollup": pipeline.q_pipeline_sink_rollup,
    "doc_token_count": docs.q_doc_token_count,
    "doc_lang_id": docs.q_doc_lang_id,
    "doc_fingerprint": docs.q_doc_fingerprint,
    "doc_quality": docs.q_doc_quality,
    "emb_cosine_topk": embeddings.q_emb_cosine_topk,
    "emb_ivf_assign": embeddings.q_emb_ivf_assign,
    "emb_ann_pairs": embeddings.q_emb_ann_pairs,
    "emb_ann_pairs_multiprobe": embeddings.q_emb_ann_pairs_multiprobe,
    "emb_ivf_search": embeddings.q_emb_ivf_search,
    "emb_ann_pairs_banded": embeddings.q_emb_ann_pairs_banded,
    "emb_ivf_search_trained": embeddings.q_emb_ivf_search_trained,
    "emb_kmeans_centroids": embeddings.q_emb_kmeans_centroids,
    "q1_lineitem_agg": tables.q_q1_lineitem_agg,
    "q3_shipping_priority": tables.q_q3_shipping_priority,
    "q5_region_revenue": tables.q_q5_region_revenue,
    "q18_large_orders": tables.q_q18_large_orders,
    "events_sessionize": tables.q_events_sessionize,
    "events_latency_quantiles": tables.q_events_latency_quantiles,
}


ORACLE_PARSE_LOGS = _CTE + """
SELECT conv_id, turn_idx,
  CAST(nullif(regexp_extract(text, 'ts_us=([0-9]+)', 1), '') AS BIGINT) AS log_ts_us,
  nullif(regexp_extract(text, ' level=([A-Z]+)', 1), '') AS severity_text,
  CASE nullif(regexp_extract(text, ' level=([A-Z]+)', 1), '')
    WHEN 'TRACE' THEN 1 WHEN 'DEBUG' THEN 5 WHEN 'INFO' THEN 9
    WHEN 'WARN' THEN 13 WHEN 'ERROR' THEN 17 WHEN 'FATAL' THEN 21 END AS severity_number,
  nullif(regexp_extract(text, ' msg="([^"]*)"', 1), '') AS msg,
  CAST(nullif(regexp_extract(text, ' code=([0-9]+)', 1), '') AS BIGINT) AS code,
  (nullif(regexp_extract(text, ' retry=(true|false)', 1), '') = 'true') AS retry
FROM classified WHERE signal_type = 'log'
"""

ORACLES: dict[str, str] = {
    "pipeline_sink_counts": _CTE + """
SELECT CASE WHEN signal_type = 'quarantine' OR bad_tool THEN 'quarantine'
            ELSE signal_type || 's' END AS sink,
       count(*) AS n_rows,
       count(DISTINCT conv_id) AS n_convs
FROM classified
GROUP BY 1
""",
    "pipeline_parse_logs": ORACLE_PARSE_LOGS,
    "pipeline_parse_logs_arrow": ORACLE_PARSE_LOGS,
    "pipeline_parse_logs_grok": ORACLE_PARSE_LOGS,
    "pipeline_parse_metrics": _CTE + """
SELECT conv_id, turn_idx,
  nullif(regexp_extract(text, '^name=([a-z_]+)', 1), '') AS metric_name,
  CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) AS metric_value,
  nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS metric_unit
FROM classified WHERE signal_type = 'metric'
""",
    "pipeline_parse_traces": _CTE + """
SELECT conv_id, turn_idx,
  nullif(regexp_extract(text, '^span=([0-9a-f]{16})', 1), '') AS span_hex,
  nullif(regexp_extract(text, ' parent=([0-9a-f]{8})', 1), '') AS parent_hex,
  CAST(nullif(regexp_extract(text, ' dur_ms=([0-9]+)', 1), '') AS BIGINT) AS dur_ms
FROM classified WHERE signal_type = 'trace'
""",
    "pipeline_enrich_services": _CTE + """
SELECT service_name, count(*) AS n_turns, count(DISTINCT conv_id) AS n_convs
FROM classified WHERE service_name IS NOT NULL
GROUP BY 1
""",
    "pipeline_enrich_asof": duckdb_transcripts_cte() + """,
vers AS (
  SELECT 'tool-' || CAST(i AS VARCHAR) AS tool,
         CAST(1704067200000000 AS BIGINT) AS vf,
         'service-' || CAST(i % 10 AS VARCHAR) AS service_name
  FROM range(0, 7) t(i)
  UNION ALL
  SELECT 'tool-' || CAST(i AS VARCHAR), CAST(1705276800000000 AS BIGINT),
         'service-v2-' || CAST(i % 5 AS VARCHAR)
  FROM range(0, 7) t(i)
), matched AS (
  SELECT t.conv_id, v.service_name,
    row_number() OVER (PARTITION BY t.conv_id, t.turn_idx
                       ORDER BY v.vf DESC) AS rn
  FROM transcripts t JOIN vers v
    ON t.tool = v.tool AND v.vf <= epoch_us(t.ts)
  WHERE t.tool IS NOT NULL
)
SELECT service_name, count(*) AS n_turns, count(DISTINCT conv_id) AS n_convs
FROM matched WHERE rn = 1 GROUP BY 1
""",
    "pipeline_attrs_melt": _CTE + """
, parsed AS (
  SELECT conv_id, turn_idx, tool,
    nullif(regexp_extract(text, ' level=([A-Z]+)', 1), '') AS level,
    CAST(nullif(regexp_extract(text, ' code=([0-9]+)', 1), '') AS BIGINT) AS code,
    (nullif(regexp_extract(text, ' retry=(true|false)', 1), '') = 'true') AS retry,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS unit,
    CAST(nullif(regexp_extract(text, ' dur_ms=([0-9]+)', 1), '') AS BIGINT) AS dur_ms,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) AS value,
    nullif(regexp_extract(text, '^span=([0-9a-f]{16})', 1), '') AS span_hex,
    nullif(regexp_extract(text, ' parent=([0-9a-f]{8})', 1), '') AS parent_hex
  FROM classified
)
SELECT conv_id, turn_idx, 'tool' AS key, 1 AS type, tool AS str,
       CAST(NULL AS BIGINT) AS int, CAST(NULL AS DOUBLE) AS double,
       CAST(NULL AS BOOLEAN) AS bool, CAST(NULL AS VARCHAR) AS bytes_hex,
       CAST(NULL AS VARCHAR) AS ser
  FROM parsed WHERE tool IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'level', 1, level, NULL, NULL, NULL, NULL, NULL
  FROM parsed WHERE level IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'code', 2, NULL, code, NULL, NULL, NULL, NULL
  FROM parsed WHERE code IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'retry', 4, NULL, NULL, NULL, retry, NULL, NULL
  FROM parsed WHERE retry IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'unit', 1, unit, NULL, NULL, NULL, NULL, NULL
  FROM parsed WHERE unit IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'dur_ms', 2, NULL, dur_ms, NULL, NULL, NULL, NULL
  FROM parsed WHERE dur_ms IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'value_scaled', 3, NULL, NULL, value / 100.0, NULL, NULL, NULL
  FROM parsed WHERE value IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'span_bytes', 5, NULL, NULL, NULL, NULL, upper(span_hex), NULL
  FROM parsed WHERE span_hex IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'link', 6, NULL, NULL, NULL, NULL, NULL,
       CAST(to_json(struct_pack(parent := parent_hex, dur := dur_ms)) AS VARCHAR)
  FROM parsed WHERE parent_hex IS NOT NULL AND dur_ms IS NOT NULL
""",
    "pipeline_stable_order": duckdb_transcripts_cte() + """
SELECT conv_id, turn_idx,
       CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT) AS turn_order
FROM transcripts
""",
    "pipeline_dict_tool": duckdb_transcripts_cte() + """
SELECT tool, CAST(dense_rank() OVER (ORDER BY tool) - 1 AS INT) AS tool_code
FROM (SELECT DISTINCT tool FROM transcripts WHERE tool IS NOT NULL)
""",
    "pipeline_route_quarantine": _CTE + """
SELECT conv_id, turn_idx,
  CASE WHEN signal_type = 'quarantine' THEN 'unparseable_text'
       ELSE 'unknown_tool' END AS error
FROM classified WHERE signal_type = 'quarantine' OR bad_tool
""",
    "pipeline_severity_rollup": _CTE + """
SELECT nullif(regexp_extract(text, ' level=([A-Z]+)', 1), '') AS severity_text,
       count(*) AS n,
       CAST(sum(CASE WHEN nullif(regexp_extract(text, ' retry=(true|false)', 1), '') = 'true'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_retry,
       CAST(sum(CAST(nullif(regexp_extract(text, ' code=([0-9]+)', 1), '') AS BIGINT)) AS BIGINT) AS sum_code,
       count(nullif(regexp_extract(text, ' code=([0-9]+)', 1), '')) AS n_code
FROM classified WHERE signal_type = 'log'
GROUP BY 1
""",
    "pipeline_change_detect": _CTE + """
SELECT conv_id, turn_idx, signal_type,
  CAST(sum(CASE WHEN prev IS NULL OR prev <> signal_type THEN 1 ELSE 0 END)
    OVER (PARTITION BY conv_id ORDER BY turn_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS segment_id
FROM (
  SELECT conv_id, turn_idx, signal_type,
         lag(signal_type) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM classified
)
""",
    "pipeline_roundtrip": duckdb_transcripts_cte() + """
SELECT conv_id, turn_idx, role, text, tool FROM transcripts
""",
    "pipeline_obfuscate": _CTE + """
SELECT conv_id, turn_idx,
  substr(sha256(nullif(regexp_extract(text, ' msg="([^"]*)"', 1), '')), 1, 16) AS msg_token
FROM classified WHERE signal_type = 'log'
""",
    "pipeline_schema_analyzer": duckdb_transcripts_cte() + """
SELECT * FROM (
  SELECT 'conv_id' AS "column", count(DISTINCT conv_id) AS n_distinct,
    round(sum(CASE WHEN conv_id IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS null_frac,
    CAST(min(conv_id) AS VARCHAR) AS min_value, CAST(max(conv_id) AS VARCHAR) AS max_value,
    count(*) AS n_rows FROM transcripts
  UNION ALL
  SELECT 'turn_idx', count(DISTINCT turn_idx),
    round(sum(CASE WHEN turn_idx IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6),
    CAST(min(turn_idx) AS VARCHAR), CAST(max(turn_idx) AS VARCHAR), count(*) FROM transcripts
  UNION ALL
  SELECT 'role', count(DISTINCT role),
    round(sum(CASE WHEN role IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6),
    CAST(min(role) AS VARCHAR), CAST(max(role) AS VARCHAR), count(*) FROM transcripts
  UNION ALL
  SELECT 'text', count(DISTINCT text),
    round(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6),
    CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR), count(*) FROM transcripts
  UNION ALL
  SELECT 'tool', count(DISTINCT tool),
    round(sum(CASE WHEN tool IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6),
    CAST(min(tool) AS VARCHAR), CAST(max(tool) AS VARCHAR), count(*) FROM transcripts
)
""",
    "pipeline_weighted_split": duckdb_transcripts_cte() + """
SELECT CASE WHEN substr(md5(conv_id || '|' || CAST(turn_idx AS VARCHAR)), 1, 1) < '8' THEN 'exp-a'
            WHEN substr(md5(conv_id || '|' || CAST(turn_idx AS VARCHAR)), 1, 1) < 'd' THEN 'exp-b'
            ELSE 'exp-c' END AS exporter,
       count(*) AS n_rows, count(DISTINCT conv_id) AS n_convs
FROM transcripts
GROUP BY 1
""",
    # Full replay of the E2 encode: same melt, same md5 parent ids/buckets,
    # same (key, enc_bucket) window ordered by the value union NULLS FIRST
    # then parent_id, same null-safe group detection. bytes order by hex is
    # equivalent to Spark's binary order (hex is byte-lexicographic).
    "pipeline_delta_encode": _CTE + """
, parsed AS (
  SELECT conv_id, turn_idx, tool,
    nullif(regexp_extract(text, ' level=([A-Z]+)', 1), '') AS level,
    CAST(nullif(regexp_extract(text, ' code=([0-9]+)', 1), '') AS BIGINT) AS code,
    (nullif(regexp_extract(text, ' retry=(true|false)', 1), '') = 'true') AS retry,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS unit,
    CAST(nullif(regexp_extract(text, ' dur_ms=([0-9]+)', 1), '') AS BIGINT) AS dur_ms,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) AS value,
    nullif(regexp_extract(text, '^span=([0-9a-f]{16})', 1), '') AS span_hex,
    nullif(regexp_extract(text, ' parent=([0-9a-f]{8})', 1), '') AS parent_hex
  FROM classified
), melted AS (
  SELECT conv_id, turn_idx, 'tool' AS key, 1 AS type, tool AS str,
         CAST(NULL AS BIGINT) AS "int", CAST(NULL AS DOUBLE) AS "double",
         CAST(NULL AS BOOLEAN) AS bool, CAST(NULL AS VARCHAR) AS bytes_hex,
         CAST(NULL AS VARCHAR) AS ser
    FROM parsed WHERE tool IS NOT NULL
  UNION ALL SELECT conv_id, turn_idx, 'level', 1, level, NULL, NULL, NULL, NULL, NULL
    FROM parsed WHERE level IS NOT NULL
  UNION ALL SELECT conv_id, turn_idx, 'code', 2, NULL, code, NULL, NULL, NULL, NULL
    FROM parsed WHERE code IS NOT NULL
  UNION ALL SELECT conv_id, turn_idx, 'retry', 4, NULL, NULL, NULL, retry, NULL, NULL
    FROM parsed WHERE retry IS NOT NULL
  UNION ALL SELECT conv_id, turn_idx, 'unit', 1, unit, NULL, NULL, NULL, NULL, NULL
    FROM parsed WHERE unit IS NOT NULL
  UNION ALL SELECT conv_id, turn_idx, 'dur_ms', 2, NULL, dur_ms, NULL, NULL, NULL, NULL
    FROM parsed WHERE dur_ms IS NOT NULL
  UNION ALL SELECT conv_id, turn_idx, 'value_scaled', 3, NULL, NULL, value / 100.0, NULL, NULL, NULL
    FROM parsed WHERE value IS NOT NULL
  UNION ALL SELECT conv_id, turn_idx, 'span_bytes', 5, NULL, NULL, NULL, NULL, upper(span_hex), NULL
    FROM parsed WHERE span_hex IS NOT NULL
  UNION ALL SELECT conv_id, turn_idx, 'link', 6, NULL, NULL, NULL, NULL, NULL,
         CAST(to_json(struct_pack(parent := parent_hex, dur := dur_ms)) AS VARCHAR)
    FROM parsed WHERE parent_hex IS NOT NULL AND dur_ms IS NOT NULL
), withid AS (
  SELECT *,
    (CAST(CAST('0x' || substr(md5(conv_id), 1, 12) AS UBIGINT) AS BIGINT) % 100000) * 1000
      + turn_idx AS parent_id
  FROM melted
), withb AS (
  SELECT *,
    CAST(CAST(CAST('0x' || substr(md5(CAST(parent_id AS VARCHAR)), 1, 12) AS UBIGINT)
         AS BIGINT) % 16 AS INT) AS enc_bucket
  FROM withid
), enc AS (
  SELECT key, parent_id,
    lag(parent_id) OVER w AS prev_pid,
    (type IS NOT DISTINCT FROM lag(type) OVER w
     AND str IS NOT DISTINCT FROM lag(str) OVER w
     AND "int" IS NOT DISTINCT FROM lag("int") OVER w
     AND "double" IS NOT DISTINCT FROM lag("double") OVER w
     AND bool IS NOT DISTINCT FROM lag(bool) OVER w
     AND bytes_hex IS NOT DISTINCT FROM lag(bytes_hex) OVER w
     AND ser IS NOT DISTINCT FROM lag(ser) OVER w) AS same_grp
  FROM withb
  WINDOW w AS (PARTITION BY key, enc_bucket
               ORDER BY type ASC NULLS FIRST, str ASC NULLS FIRST,
                        "int" ASC NULLS FIRST, "double" ASC NULLS FIRST,
                        bool ASC NULLS FIRST, bytes_hex ASC NULLS FIRST,
                        ser ASC NULLS FIRST, parent_id)
), enc2 AS (
  SELECT key, NOT coalesce(same_grp, FALSE) AS group_start,
    CASE WHEN NOT coalesce(same_grp, FALSE) THEN parent_id
         ELSE parent_id - prev_pid END AS delta
  FROM enc
)
SELECT key,
  CAST(sum(CASE WHEN group_start THEN 1 ELSE 0 END) AS BIGINT) AS n_groups,
  count(*) AS n_rows,
  CAST(sum(CASE WHEN NOT group_start THEN delta ELSE 0 END) AS BIGINT) AS delta_sum,
  min(delta) AS min_delta
FROM enc2 GROUP BY key
""",
    "pipeline_field_frequencies": duckdb_transcripts_cte() + """
SELECT * FROM (
  SELECT 'role' AS "column", role AS value, count(*) AS n
  FROM transcripts WHERE role IS NOT NULL
  GROUP BY role ORDER BY n DESC, value ASC LIMIT 5
)
UNION ALL
SELECT * FROM (
  SELECT 'tool', tool, count(*) AS n
  FROM transcripts WHERE tool IS NOT NULL
  GROUP BY tool ORDER BY n DESC, tool ASC LIMIT 5
)
""",
    "pipeline_delta_ids": _CTE + """
, ids AS (
  SELECT conv_id, turn_idx,
    dense_rank() OVER (ORDER BY tool ASC NULLS FIRST) AS res_id,
    dense_rank() OVER (ORDER BY role ASC NULLS FIRST) AS scope_id
  FROM classified
), enc AS (
  SELECT res_id,
    res_id - coalesce(lag(res_id) OVER (ORDER BY res_id, scope_id, conv_id, turn_idx), 0) AS res_id_delta
  FROM ids
)
SELECT res_id, count(*) AS n_rows, max(res_id_delta) AS max_delta,
       CAST(sum(res_id_delta) AS BIGINT) AS delta_sum
FROM enc GROUP BY res_id
""",
    "pipeline_metrics_number_dp": _CTE + """
, pts AS (
  SELECT conv_id, turn_idx,
    nullif(regexp_extract(text, '^name=([a-z_]+)', 1), '') AS metric_name,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) AS int_value,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS metric_unit
  FROM classified WHERE signal_type = 'metric'
)
SELECT CAST(dense_rank() OVER (ORDER BY metric_name ASC NULLS FIRST,
                               metric_unit ASC NULLS FIRST) AS BIGINT) AS metric_id,
       conv_id, turn_idx, int_value
FROM pts
""",
    "pipeline_metrics_hist_dp": _CTE + """
, pts AS (
  SELECT nullif(regexp_extract(text, '^name=([a-z_]+)', 1), '') AS metric_name,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) AS v,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS metric_unit
  FROM classified WHERE signal_type = 'metric'
)
SELECT metric_name, metric_unit,
  count(v) AS "count",
  CAST(sum(v) AS DOUBLE) AS "sum",
  CAST(min(v) AS DOUBLE) AS "min",
  CAST(max(v) AS DOUBLE) AS "max",
  CAST(to_json(list_value(
    sum(CASE WHEN v <= 50 THEN 1 ELSE 0 END)::BIGINT,
    sum(CASE WHEN v > 50 AND v <= 500 THEN 1 ELSE 0 END)::BIGINT,
    sum(CASE WHEN v > 500 AND v <= 5000 THEN 1 ELSE 0 END)::BIGINT,
    sum(CASE WHEN v > 5000 AND v <= 50000 THEN 1 ELSE 0 END)::BIGINT,
    sum(CASE WHEN v > 50000 THEN 1 ELSE 0 END)::BIGINT)) AS VARCHAR) AS bucket_counts
FROM pts GROUP BY 1, 2
""",
    "pipeline_metrics_exp_hist_dp": _CTE + """
, pts AS (
  SELECT nullif(regexp_extract(text, '^name=([a-z_]+)', 1), '') AS metric_name,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) - 1000 AS v,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS metric_unit
  FROM classified WHERE signal_type = 'metric'
)
, eh AS (
  SELECT metric_name, metric_unit,
    count(v) AS "count",
    CAST(sum(v) AS BIGINT) AS "sum",
    CAST(0 AS INTEGER) AS scale,
    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_count,
    list_value(
""" + _exp_hist_bucket_sql(18, 0)[0] + """) AS pos_list,
    list_value(
""" + _exp_hist_bucket_sql(18, 0)[1] + """) AS neg_list,
    CAST(min(v) AS BIGINT) AS "min",
    CAST(max(v) AS BIGINT) AS "max"
  FROM pts GROUP BY 1, 2
)
SELECT metric_name, metric_unit, "count", "sum", scale, zero_count,
  """ + _trim_exp_sql("pos_list")[0] + """ AS positive_offset,
  """ + _trim_exp_sql("pos_list")[1] + """ AS positive_bucket_counts,
  """ + _trim_exp_sql("neg_list")[0] + """ AS negative_offset,
  """ + _trim_exp_sql("neg_list")[1] + """ AS negative_bucket_counts,
  "min", "max"
FROM eh
""",
    # scale-1 rollup: same shape, sqrt(2)-base buckets via exact integer
    # boundaries shared with the Spark side (exp2_lower_bound)
    "pipeline_metrics_exp_hist_scale": _CTE + """
, pts AS (
  SELECT nullif(regexp_extract(text, '^name=([a-z_]+)', 1), '') AS metric_name,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) - 1000 AS v,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS metric_unit
  FROM classified WHERE signal_type = 'metric'
)
, eh AS (
  SELECT metric_name, metric_unit,
    count(v) AS "count",
    CAST(sum(v) AS BIGINT) AS "sum",
    CAST(1 AS INTEGER) AS scale,
    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_count,
    list_value(
""" + _exp_hist_bucket_sql(36, 1)[0] + """) AS pos_list,
    list_value(
""" + _exp_hist_bucket_sql(36, 1)[1] + """) AS neg_list,
    CAST(min(v) AS BIGINT) AS "min",
    CAST(max(v) AS BIGINT) AS "max"
  FROM pts GROUP BY 1, 2
)
SELECT metric_name, metric_unit, "count", "sum", scale, zero_count,
  """ + _trim_exp_sql("pos_list")[0] + """ AS positive_offset,
  """ + _trim_exp_sql("pos_list")[1] + """ AS positive_bucket_counts,
  """ + _trim_exp_sql("neg_list")[0] + """ AS negative_offset,
  """ + _trim_exp_sql("neg_list")[1] + """ AS negative_bucket_counts,
  "min", "max"
FROM eh
""",
    # heterogeneous-scale merge: the oracle is the DIRECT scale-0 rollup
    # over ALL points — equal iff the Spark downscale+merge is lossless
    "pipeline_metrics_exp_hist_merge": _CTE + """
, pts AS (
  SELECT nullif(regexp_extract(text, '^name=([a-z_]+)', 1), '') AS metric_name,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) - 1000 AS v,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS metric_unit
  FROM classified WHERE signal_type = 'metric'
)
, eh AS (
  SELECT metric_name, metric_unit,
    count(v) AS "count",
    CAST(sum(v) AS BIGINT) AS "sum",
    CAST(0 AS INTEGER) AS scale,
    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_count,
    list_value(
""" + _exp_hist_bucket_sql(18, 0)[0] + """) AS pos_list,
    list_value(
""" + _exp_hist_bucket_sql(18, 0)[1] + """) AS neg_list,
    CAST(min(v) AS BIGINT) AS "min",
    CAST(max(v) AS BIGINT) AS "max"
  FROM pts GROUP BY 1, 2
)
SELECT metric_name, metric_unit, "count", "sum", scale, zero_count,
  """ + _trim_exp_sql("pos_list")[0] + """ AS positive_offset,
  """ + _trim_exp_sql("pos_list")[1] + """ AS positive_bucket_counts,
  """ + _trim_exp_sql("neg_list")[0] + """ AS negative_offset,
  """ + _trim_exp_sql("neg_list")[1] + """ AS negative_bucket_counts,
  "min", "max"
FROM eh
""",
    # .pb capture round-trip: oracle replays the severity rollup from the
    # transcripts directly — green iff pb encode∘decode == id per frame
    "pipeline_pb_capture_roundtrip": _CTE + """
SELECT nullif(regexp_extract(text, ' level=([A-Z]+)', 1), '') AS severity_text,
  count(*) AS n,
  count(nullif(regexp_extract(text, ' msg="([^"]*)"', 1), '')) AS n_body,
  CAST(sum((CAST(nullif(regexp_extract(text, 'ts_us=([0-9]+)', 1), '') AS BIGINT) * 1000) % 1000003) AS BIGINT) AS sum_ts_mod,
  CAST(max(CAST(nullif(regexp_extract(text, 'ts_us=([0-9]+)', 1), '') AS BIGINT) * 1000) AS BIGINT) AS max_ts,
  CAST(max(CASE nullif(regexp_extract(text, ' level=([A-Z]+)', 1), '')
    WHEN 'TRACE' THEN 1 WHEN 'DEBUG' THEN 5 WHEN 'INFO' THEN 9
    WHEN 'WARN' THEN 13 WHEN 'ERROR' THEN 17 WHEN 'FATAL' THEN 21 END) AS INT) AS max_sev
FROM classified WHERE signal_type = 'log'
GROUP BY 1
""",
    # OTLP-JSON round-trip: same oracle family as the .pb capture — the
    # rollup is replayed from the transcripts, green iff the protojson
    # to_json∘from_json pipeline is the identity (attr map included)
    "pipeline_otlp_json_roundtrip": _CTE + """
SELECT nullif(regexp_extract(text, ' level=([A-Z]+)', 1), '') AS severity_text,
  count(*) AS n,
  count(nullif(regexp_extract(text, ' msg="([^"]*)"', 1), '')) AS n_body,
  CAST(sum((CAST(nullif(regexp_extract(text, 'ts_us=([0-9]+)', 1), '') AS BIGINT) * 1000) % 1000003) AS BIGINT) AS sum_ts_mod,
  CAST(max(CAST(nullif(regexp_extract(text, 'ts_us=([0-9]+)', 1), '') AS BIGINT) * 1000) AS BIGINT) AS max_ts,
  CAST(max(CASE nullif(regexp_extract(text, ' level=([A-Z]+)', 1), '')
    WHEN 'TRACE' THEN 1 WHEN 'DEBUG' THEN 5 WHEN 'INFO' THEN 9
    WHEN 'WARN' THEN 13 WHEN 'ERROR' THEN 17 WHEN 'FATAL' THEN 21 END) AS INT) AS max_sev,
  CAST(count(tool) AS BIGINT) AS n_tool,
  max(tool) AS max_tool
FROM classified WHERE signal_type = 'log'
GROUP BY 1
""",
    # .pb metrics round-trip: the oracle computes the exp-hist rollup (with
    # trimmed offsets) straight from the transcripts — green iff the pb
    # ExponentialHistogramDataPoint encode∘decode == id on every field
    "pipeline_pb_metrics_roundtrip": _CTE + """
, pts AS (
  SELECT nullif(regexp_extract(text, '^name=([a-z_]+)', 1), '') AS metric_name,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) - 1000 AS v,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS metric_unit
  FROM classified WHERE signal_type = 'metric'
)
, eh AS (
  SELECT metric_name, metric_unit,
    count(v) AS "count",
    CAST(sum(v) AS BIGINT) AS sum_raw,
    CAST(0 AS INTEGER) AS scale,
    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_count,
    list_value(
""" + _exp_hist_bucket_sql(18, 0)[0] + """) AS pos_list,
    list_value(
""" + _exp_hist_bucket_sql(18, 0)[1] + """) AS neg_list
  FROM pts GROUP BY 1, 2
)
SELECT metric_name, metric_unit, "count",
  CAST(sum_raw AS DOUBLE) AS "sum", scale, zero_count,
  """ + _trim_exp_sql("pos_list")[0] + """ AS positive_offset,
  """ + _trim_exp_sql("pos_list")[1] + """ AS positive_bucket_counts,
  """ + _trim_exp_sql("neg_list")[0] + """ AS negative_offset,
  """ + _trim_exp_sql("neg_list")[1] + """ AS negative_bucket_counts,
  CAST(1 AS INTEGER) AS n_attrs,
  coalesce(metric_unit, '') AS attr_unit
FROM eh
""",
    # Replays the trace->pb->decode rollup from the transcripts directly:
    # equality iff encode∘decode == id on ids/kind/status/timestamps/event
    # names+times/link ids/attr values (the modular sums keep every
    # checksum integer-exact on both engines, like the logs sibling)
    "pipeline_pb_traces_roundtrip": _CTE + """
, tr AS (
  SELECT conv_id,
    CAST(turn_idx % 4 + 1 AS INTEGER) AS kind,
    nullif(regexp_extract(text, ' parent=([0-9a-f]{8})', 1), '') AS parent_hex,
    CAST(nullif(regexp_extract(text, ' dur_ms=([0-9]+)', 1), '') AS BIGINT) AS dur_ms,
    epoch_us(ts) * 1000 AS start_ns
  FROM classified WHERE signal_type = 'trace'
), sp AS (
  SELECT conv_id, kind, parent_hex, dur_ms, start_ns,
    CASE WHEN dur_ms IS NOT NULL
         THEN start_ns + dur_ms * 1000000 END AS end_ns
  FROM tr
)
SELECT kind,
  CAST(count(*) AS BIGINT) AS n_spans,
  CAST(sum(CASE WHEN dur_ms IS NOT NULL THEN 2 ELSE 1 END) AS BIGINT) AS n_events,
  CAST(sum(CASE WHEN dur_ms IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_end_events,
  CAST(sum(start_ns % 1000003) AS BIGINT) AS sum_start_mod,
  CAST(sum(start_ns % 1000003 + COALESCE(end_ns % 1000003, 0)) AS BIGINT) AS sum_event_ts_mod,
  CAST(sum(COALESCE(dur_ms % 3, 0)) AS BIGINT) AS sum_status,
  CAST(sum(CASE WHEN parent_hex IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_links,
  CAST(count(DISTINCT CASE WHEN parent_hex IS NOT NULL THEN md5(conv_id) END) AS BIGINT) AS n_link_traces,
  MAX(lpad(parent_hex, 16, '0')) AS max_link_span,
  MAX('op-' || conv_id) AS max_name,
  CAST(count(*) AS BIGINT) AS n_attr_conv_match
FROM sp GROUP BY 1
""",
    "pipeline_metrics_temporality": _CTE + """
, pts AS (
  SELECT conv_id, turn_idx,
    nullif(regexp_extract(text, '^name=([a-z_]+)', 1), '') AS metric_name,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) AS v,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS metric_unit
  FROM classified WHERE signal_type = 'metric'
), lagged AS (
  SELECT conv_id, turn_idx, metric_name, metric_unit, v,
    lag(v) OVER (PARTITION BY metric_name, metric_unit, conv_id
                 ORDER BY turn_idx) AS prev
  FROM pts
)
SELECT conv_id, turn_idx, metric_name, metric_unit,
  CASE WHEN prev IS NULL THEN v
       WHEN v < prev THEN v
       ELSE v - prev END AS delta
FROM lagged
""",
    "pipeline_metrics_summary_dp": _CTE + """
, pts AS (
  SELECT nullif(regexp_extract(text, '^name=([a-z_]+)', 1), '') AS metric_name,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) AS v,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS metric_unit
  FROM classified WHERE signal_type = 'metric'
)
SELECT metric_name, metric_unit,
  count(v) AS "count",
  CAST(sum(v) AS DOUBLE) AS "sum",
  round(quantile_cont(v, 0.5), 6) AS q0_5,
  round(quantile_cont(v, 0.9), 6) AS q0_9,
  round(quantile_cont(v, 0.99), 6) AS q0_99
FROM pts GROUP BY 1, 2
""",
    "pipeline_metrics_exemplars": _CTE + """
, pts AS (
  SELECT conv_id, turn_idx,
    nullif(regexp_extract(text, '^name=([a-z_]+)', 1), '') AS metric_name,
    CAST(nullif(regexp_extract(text, ' value=(-?[0-9]+)', 1), '') AS BIGINT) AS v,
    nullif(regexp_extract(text, ' unit=([a-z%]+)', 1), '') AS metric_unit
  FROM classified WHERE signal_type = 'metric'
), ranked AS (
  SELECT metric_name, metric_unit, v AS exemplar_value, conv_id, turn_idx,
    CAST(row_number() OVER (PARTITION BY metric_name, metric_unit
                            ORDER BY v DESC, conv_id ASC, turn_idx ASC) AS INT) AS rank
  FROM pts
)
SELECT * FROM ranked WHERE rank <= 2
""",
    "pipeline_span_events": _CTE + """
, tr AS (
  SELECT conv_id, turn_idx,
    nullif(regexp_extract(text, '^span=([0-9a-f]{16})', 1), '') AS span_hex,
    CAST(nullif(regexp_extract(text, ' dur_ms=([0-9]+)', 1), '') AS BIGINT) AS dur_ms,
    epoch_us(ts) AS ts_us
  FROM classified WHERE signal_type = 'trace'
)
SELECT conv_id, turn_idx, span_hex, 'span.start' AS event_name,
       ts_us AS event_ts_us, CAST(0 AS INTEGER) AS dropped_attributes_count
FROM tr
UNION ALL
SELECT conv_id, turn_idx, span_hex, 'span.end',
       ts_us + dur_ms * 1000, CAST(0 AS INTEGER)
FROM tr WHERE dur_ms IS NOT NULL
""",
    "pipeline_span_links": _CTE + """
SELECT conv_id, turn_idx,
  nullif(regexp_extract(text, '^span=([0-9a-f]{16})', 1), '') AS span_hex,
  md5(conv_id) AS link_trace_hex,
  lpad(nullif(regexp_extract(text, ' parent=([0-9a-f]{8})', 1), ''), 16, '0') AS link_span_hex,
  CAST(NULL AS VARCHAR) AS trace_state,
  CAST(0 AS INTEGER) AS dropped_attributes_count
FROM classified
WHERE signal_type = 'trace'
  AND nullif(regexp_extract(text, ' parent=([0-9a-f]{8})', 1), '') IS NOT NULL
""",
    "pipeline_span_event_wiring": _CTE + """
, tr AS (
  SELECT conv_id, turn_idx,
    nullif(regexp_extract(text, '^span=([0-9a-f]{16})', 1), '') AS span_hex,
    nullif(regexp_extract(text, ' parent=([0-9a-f]{8})', 1), '') AS parent_hex,
    CAST(nullif(regexp_extract(text, ' dur_ms=([0-9]+)', 1), '') AS BIGINT) AS dur_ms,
    epoch_us(ts) AS ts_us
  FROM classified WHERE signal_type = 'trace'
)
SELECT conv_id, turn_idx, span_hex,
  CAST(CASE WHEN dur_ms IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS n_events,
  CAST(CASE WHEN parent_hex IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_links,
  CASE WHEN dur_ms IS NOT NULL THEN dur_ms * 1000 ELSE 0 END AS span_us
FROM tr
""",
    # Generator replay: synthesize_metrics_nested is md5-seeded
    # (datagen/seeds.py), so the oracle reproduces h and every per-record
    # row count from the same arithmetic (type/n_dps = h%4+1 correlated,
    # exemplars = (h+d)%3 for non-summary, attrs = two presence indicators).
    "pipeline_metrics_dp_records": """
WITH mbase AS (
  SELECT i AS id,
    CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':42'), 1, 15) AS UBIGINT) AS BIGINT) AS h
  FROM range(0, 300) t(i)
), mb AS (
  SELECT id, h, h % 4 + 1 AS metric_type, h % 4 + 1 AS n_dps FROM mbase
), mdp AS (
  SELECT id, h, metric_type, unnest(range(0, n_dps)) AS d FROM mb
), mdpx AS (
  SELECT id, h, metric_type, d,
    CASE WHEN metric_type <> 3 THEN (h + d) % 3 ELSE 0 END AS n_ex,
    (CASE WHEN (h + d) % 4 <> 0 THEN 1 ELSE 0 END
     + CASE WHEN (h + d) % 5 <> 0 THEN 1 ELSE 0 END) AS n_attrs
  FROM mdp
)
SELECT 'metrics' AS record, count(*) AS n_rows FROM mb
UNION ALL SELECT 'number_dp', count(*) FROM mdpx WHERE metric_type = 1
UNION ALL SELECT 'number_dp_exemplar', CAST(coalesce(sum(n_ex), 0) AS BIGINT)
  FROM mdpx WHERE metric_type = 1
UNION ALL SELECT 'number_dp_attrs', CAST(coalesce(sum(n_attrs), 0) AS BIGINT)
  FROM mdpx WHERE metric_type = 1
UNION ALL SELECT 'hist_dp', count(*) FROM mdpx WHERE metric_type = 2
UNION ALL SELECT 'hist_dp_exemplar', CAST(coalesce(sum(n_ex), 0) AS BIGINT)
  FROM mdpx WHERE metric_type = 2
UNION ALL SELECT 'hist_dp_attrs', CAST(coalesce(sum(n_attrs), 0) AS BIGINT)
  FROM mdpx WHERE metric_type = 2
UNION ALL SELECT 'exp_hist_dp', count(*) FROM mdpx WHERE metric_type = 4
UNION ALL SELECT 'exp_hist_dp_exemplar', CAST(coalesce(sum(n_ex), 0) AS BIGINT)
  FROM mdpx WHERE metric_type = 4
UNION ALL SELECT 'exp_hist_dp_attrs', CAST(coalesce(sum(n_attrs), 0) AS BIGINT)
  FROM mdpx WHERE metric_type = 4
UNION ALL SELECT 'summary_dp', count(*) FROM mdpx WHERE metric_type = 3
UNION ALL SELECT 'summary_dp_attrs', CAST(coalesce(sum(n_attrs), 0) AS BIGINT)
  FROM mdpx WHERE metric_type = 3
""",
    # Replay of synthesize_metrics_multivariate (n_resources=20, n_ts=50,
    # n_vars=8): same md5 seed hash, same DIV/% arithmetic.
    "pipeline_metrics_multivariate": """
WITH mv AS (
  SELECT i AS id,
    CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':42'), 1, 15) AS UBIGINT) AS BIGINT) AS h,
    i % 20 AS res_id
  FROM range(0, 1000) t(i)
), pts AS (
  SELECT 'v_' || CAST(j AS VARCHAR) AS metric_name,
         1000 * j + (h + 7919 * j) % 100 AS value, res_id
  FROM mv, range(0, 8) s(j)
)
SELECT metric_name, count(*) AS n,
  CAST(sum(value) AS BIGINT) AS sum_value,
  min(value) AS min_value, max(value) AS max_value,
  count(DISTINCT res_id) AS n_res
FROM pts GROUP BY 1
""",
    # Same replay for synthesize_traces_nested: n_events = h%4,
    # n_links = (h+1)%3, attr presence from the _kv indicator arithmetic.
    "pipeline_trace_records": """
WITH tbase AS (
  SELECT i AS id,
    CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':42'), 1, 15) AS UBIGINT) AS BIGINT) AS h
  FROM range(0, 300) t(i)
), tb AS (
  SELECT id, h, h % 4 AS n_events, (h + 1) % 3 AS n_links FROM tbase
), tev AS (
  SELECT id, h, unnest(range(0, n_events)) AS e FROM tb
), tln AS (
  SELECT id, h, unnest(range(0, n_links)) AS l FROM tb
)
SELECT 'spans' AS record, count(*) AS n_rows FROM tb
UNION ALL SELECT 'span_attrs', CAST(coalesce(sum(
    CASE WHEN (h + 13) % 4 <> 0 THEN 1 ELSE 0 END
    + CASE WHEN (h + 13) % 5 <> 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM tb
UNION ALL SELECT 'span_events', count(*) FROM tev
UNION ALL SELECT 'span_event_attrs', CAST(coalesce(sum(
    CASE WHEN (h + e) % 4 <> 0 THEN 1 ELSE 0 END
    + CASE WHEN (h + e) % 5 <> 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM tev
UNION ALL SELECT 'span_links', count(*) FROM tln
UNION ALL SELECT 'span_link_attrs', CAST(coalesce(sum(
    CASE WHEN (h + l + 7) % 4 <> 0 THEN 1 ELSE 0 END
    + CASE WHEN (h + l + 7) % 5 <> 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM tln
""",
    # The stubbed decode replayed exactly: payload = ascii-hex of
    # sha256(str(id)); features = uint16-LE pairs of sha256(payload)
    # / 65535.0 in doubles; sq_norm folds in array order (0 + f0^2) + ...
    "media_features": """
WITH media AS (
  SELECT i AS media_id,
    CASE WHEN i % 5 = 0 THEN 'video/mp4'
         WHEN i % 3 = 0 THEN 'image/png'
         ELSE 'image/jpeg' END AS mime,
    sha256(sha256(CAST(i AS VARCHAR))) AS h
  FROM range(0, 200) t(i)
), fvals AS (
  SELECT media_id, mime,
    (CAST('0x' || substr(h, 4 * j.i + 1, 2) AS UBIGINT)
     + 256 * CAST('0x' || substr(h, 4 * j.i + 3, 2) AS UBIGINT)) / 65535.0 AS f
  FROM media, range(0, 16) j(i)
)
SELECT media_id, mime, round(sum(f * f), 6) AS sq_norm
FROM fvals GROUP BY 1, 2
""",
    "media_frame_sample": """
WITH media AS (
  SELECT i AS media_id,
         CASE WHEN i % 5 = 0 THEN 4 + (i % 13) ELSE 1 END AS n_frames
  FROM range(0, 200) t(i)
)
SELECT media_id, CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_idx
FROM media
""",
    "q1_lineitem_agg": """
SELECT l_returnflag, l_linestatus,
  sum(l_quantity) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_quantity), 4) AS avg_qty,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "q3_shipping_priority": """
SELECT l_orderkey,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
  o_orderdate, o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    "q5_region_revenue": """
SELECT n_name AS nation,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
    "q18_large_orders": """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
  round(o_totalprice, 2) AS o_totalprice,
  CAST(sum_qty AS BIGINT) AS sum_qty
FROM orders
JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
""",
    "pipeline_sink_rollup": _CTE + """
, lab AS (
  SELECT CASE WHEN signal_type = 'quarantine' OR bad_tool THEN 'quarantine'
              ELSE signal_type || 's' END AS sink,
         CASE WHEN signal_type = 'log'
              THEN nullif(regexp_extract(text, ' level=([A-Z]+)', 1), '') END AS severity_text
  FROM classified
)
SELECT sink, severity_text,
  CAST(grouping(sink) AS INT) AS g_sink,
  CAST(grouping(severity_text) AS INT) AS g_sev,
  count(*) AS n
FROM lab GROUP BY ROLLUP (sink, severity_text)
""",
    "events_sessionize": """
WITH g AS (
  SELECT user_id, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id
""",
    "events_latency_quantiles_sketch": """
WITH v AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, v,
    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
    count(*) OVER (PARTITION BY event_type) AS cnt
  FROM v
),
qd AS (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q)
SELECT event_type, q,
  """ + _exp_quantile_edges_sql(12, 0)[0] + """ AS est_lo,
  """ + _exp_quantile_edges_sql(12, 0)[1] + """ AS est_hi
FROM r JOIN qd ON rn = greatest(CAST(ceil(q * cnt) AS BIGINT), 1)
""",
    "conv_sft_pairs": duckdb_transcripts_cte() + """,
led AS (
  SELECT conv_id, turn_idx, role, text,
    lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nrole,
    lead(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS ntext
  FROM transcripts
)
SELECT conv_id, turn_idx AS prompt_turn_idx, text AS prompt, ntext AS completion,
  (CASE WHEN length(trim(text)) = 0 THEN 0
        ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT AS n_prompt_tokens,
  (CASE WHEN length(trim(ntext)) = 0 THEN 0
        ELSE len(string_split_regex(trim(ntext), '\\s+')) END)::BIGINT AS n_completion_tokens
FROM led WHERE role = 'user' AND nrole = 'assistant'
""",
    "conv_quality": duckdb_transcripts_cte() + """,
led AS (
  SELECT conv_id, role, text,
    lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nrole
  FROM transcripts
),
agg AS (
  SELECT conv_id,
    count(*) AS n_turns,
    sum(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END) AS n_tokens,
    sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS n_user,
    sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS n_assistant,
    sum(CASE WHEN nrole IS NOT NULL AND role <> nrole THEN 1 ELSE 0 END) AS n_alt
  FROM led GROUP BY conv_id
)
SELECT conv_id,
  CAST(n_turns AS BIGINT) AS n_turns,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_user AS BIGINT) AS n_user,
  CAST(n_assistant AS BIGINT) AS n_assistant,
  round(CASE WHEN n_turns > 1 THEN n_alt / CAST(n_turns - 1 AS DOUBLE)
             ELSE 1.0 END, 6) AS alternation_rate,
  (n_turns BETWEEN 2 AND 200 AND n_user > 0 AND n_assistant > 0
   AND (CASE WHEN n_turns > 1 THEN n_alt / CAST(n_turns - 1 AS DOUBLE)
             ELSE 1.0 END) >= 0.5) AS keep
FROM agg
""",
    "conv_dedup": duckdb_transcripts_cte() + """,
fps AS (
  SELECT conv_id,
    sum(CAST('0x' || substr(md5(CAST(turn_idx AS VARCHAR) || ':' ||
          regexp_replace(text, '[0-9]+', '', 'g')), 1, 15) AS UBIGINT)) AS fp_sum,
    count(*) AS n_turns
  FROM transcripts GROUP BY conv_id
)
SELECT min(conv_id) AS rep_conv_id, count(*) AS n_convs, n_turns,
       CAST(fp_sum AS VARCHAR) AS fp
FROM fps GROUP BY fp_sum, n_turns
""",
    "events_latency_quantiles": """
SELECT event_type, count(*) AS n,
  round(avg(value), 6) AS mean_value,
  round(quantile_cont(value, 0.5), 6) AS p50,
  round(quantile_cont(value, 0.95), 6) AS p95,
  round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
""",
    "doc_token_count": """
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END::BIGINT AS n_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe_tokens,
  length(text)::BIGINT AS n_chars_actual
FROM documents
""",
    # PII scrub: identical augmentation + identical RE2-safe regexes,
    # replacement order email -> ip -> phone (innermost-out below)
    "doc_pii_redact": """
WITH aug AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 5 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' call 555-' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
                 || '.' || CAST((doc_id * 5) % 256 AS VARCHAR)
            ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text,
    '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(text,
    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ips,
  regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
    '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS redacted
FROM aug
""",
    # unigram-LM scoring: ln(n_tok/n_total) averaged per doc
    "doc_unigram_logprob": """
WITH toks AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
vocab AS (SELECT tok, count(*) AS n_tok FROM toks GROUP BY tok),
tot AS (SELECT sum(n_tok) AS n_total FROM vocab)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
  round(avg(ln(CAST(n_tok AS DOUBLE) / CAST(n_total AS DOUBLE))), 6) AS mean_logprob
FROM toks JOIN vocab USING (tok), tot
GROUP BY doc_id
""",
    # decontamination: distinct word 8-grams, eval set = doc_id%10=0 base docs
    "doc_decontaminate": _DOCS_PLUS_SQL + """,
toks AS (
  SELECT doc_id,
    string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM docs_plus
),
g8 AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, greatest(len(t) - 7, 0) + 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
             || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])) AS gram
    FROM toks
  )
),
btoks AS (
  SELECT string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE doc_id % 10 = 0
),
bg AS (
  SELECT DISTINCT gram FROM (
    SELECT unnest(list_transform(range(1, greatest(len(t) - 7, 0) + 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
             || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])) AS gram
    FROM btoks
  )
)
SELECT g8.doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
FROM g8 JOIN bg USING (gram)
GROUP BY g8.doc_id
""",
    # stratified sampling: md5-uint48 bucket vs per-language floor(rate*1e4)
    "doc_stratified_sample": """
SELECT doc_id, lang FROM documents
WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS UBIGINT)
           % 10000 AS BIGINT)
  < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 WHEN 'fr' THEN 2500
              WHEN 'es' THEN 1000 WHEN 'zh' THEN 1000 ELSE 0 END
""",
    # leakage-free split: cluster members follow the component's md5 draw
    "doc_leakage_free_split": _SHINGLES_SQL.replace(
        "WITH docs_plus", "WITH RECURSIVE docs_plus", 1
    )
    + _JACCARD_CTES + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
  coalesce(c.cluster_id, d.doc_id) AS split_key,
  CASE WHEN CAST(CAST('0x' || substr(md5(CAST(coalesce(c.cluster_id, d.doc_id)
                   AS VARCHAR)), 1, 12) AS UBIGINT) % 10000 AS BIGINT) < 2000
       THEN 'val' ELSE 'train' END AS split
FROM docs_plus d LEFT JOIN comp c USING (doc_id)
""",
    # token-budget mixture: per-stratum running total in md5 order < budget
    "doc_token_budget_sample": """
WITH base AS (
  SELECT doc_id, lang AS stratum,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
    md5('mix0:' || CAST(doc_id AS VARCHAR)) AS draw
  FROM documents
), r AS (
  SELECT doc_id, stratum, n_tokens,
    coalesce(sum(n_tokens) OVER (PARTITION BY stratum ORDER BY draw, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_tokens
  FROM base
)
SELECT doc_id, stratum, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(prior_tokens AS BIGINT) AS prior_tokens
FROM r
WHERE prior_tokens < CASE stratum WHEN 'en' THEN 6000 WHEN 'de' THEN 2000
                                  WHEN 'fr' THEN 2000 WHEN 'zh' THEN 1500
                                  ELSE 0 END
""",
    # log2 token-length histogram per language with per-stratum doc share
    "doc_length_histogram": """
WITH base AS (
  SELECT lang AS stratum,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM documents
), agg AS (
  SELECT stratum, CAST(floor(log2(n_tokens + 1)) AS BIGINT) AS bucket,
    count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM base GROUP BY 1, 2
)
SELECT stratum, bucket, n_docs, total_tokens,
  round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY stratum), 6) AS doc_share
FROM agg
""",
    # DSIR unigram log-likelihood ratio, target = English subset, add-0.5
    # smoothing over the union vocabulary
    "doc_dsir_weights": """
WITH rt AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
), tt AS (
  SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+')) AS tok
  FROM documents WHERE lang = 'en' AND length(trim(text)) > 0
), rv AS (SELECT tok, count(*) AS n_raw FROM rt GROUP BY tok),
tv AS (SELECT tok, count(*) AS n_tgt FROM tt GROUP BY tok),
merged AS (
  SELECT coalesce(rv.tok, tv.tok) AS tok,
    coalesce(n_raw, 0) AS n_raw, coalesce(n_tgt, 0) AS n_tgt
  FROM rv FULL OUTER JOIN tv ON rv.tok = tv.tok
), tot AS (SELECT sum(n_raw) AS t_raw, sum(n_tgt) AS t_tgt, count(*) AS v FROM merged),
vocab AS (
  SELECT tok,
    ln((n_tgt + 0.5) / (t_tgt + 0.5 * v)) - ln((n_raw + 0.5) / (t_raw + 0.5 * v)) AS llr
  FROM merged, tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
  round(sum(llr), 6) AS log_weight
FROM rt JOIN vocab USING (tok)
GROUP BY doc_id
""",
    # per-doc top-3 tf-idf terms, rank on the ROUNDED score, term tie-break
    "doc_tfidf_terms": """
WITH toks AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
scored AS (
  SELECT doc_id, term, tf,
    round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS score
  FROM tf JOIN dfq USING (term), nd
), r AS (
  SELECT doc_id, term, tf, score,
    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, score, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3
""",
    # ExactSubstr-style duplicate spans: 5-gram anchors in >=2 distinct
    # docs, merged into maximal islands per doc
    "doc_dup_spans": """
WITH toks AS (
  SELECT doc_id,
    string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), grams AS (
  SELECT doc_id, i - 1 AS pos,
    concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS gram
  FROM toks, LATERAL unnest(range(1, len(t) - 3)) AS r(i)
  WHERE len(t) >= 5
), dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), hit AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)
), isl AS (
  SELECT doc_id, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM hit
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
  CAST(max(pos) - min(pos) + 5 AS BIGINT) AS span_len,
  count(*) AS n_grams
FROM isl GROUP BY doc_id, island
""",
    # SemDeDup: seed-centroid assignment, ascending-centroid-sim scan
    # order within cluster, drop on cosine >= 0.35 to any earlier mate
    "emb_semdedup": """
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10
),
dots AS (
  SELECT e.vec_id, c.centroid_id, e.embedding AS v,
    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.cv[i.i] AS DOUBLE)) AS d,
    sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS na,
    sqrt(sum(CAST(c.cv[i.i] AS DOUBLE) * CAST(c.cv[i.i] AS DOUBLE))) AS nc
  FROM embeddings e, cents c, range(1, 65) i(i)
  GROUP BY 1, 2, 3
),
best AS (
  SELECT vec_id, centroid_id, v, round(d / (na * nc), 6) AS csim,
    row_number() OVER (PARTITION BY vec_id
                       ORDER BY round(d / (na * nc), 6) DESC, centroid_id ASC) AS rn
  FROM dots
),
a AS (
  SELECT vec_id, centroid_id, v, csim,
    row_number() OVER (PARTITION BY centroid_id ORDER BY csim ASC, vec_id ASC) AS rnk
  FROM best WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT vec_id FROM (
    SELECT r.vec_id,
      round(sum(CAST(l.v[i.i] AS DOUBLE) * CAST(r.v[i.i] AS DOUBLE))
        / (sqrt(sum(CAST(l.v[i.i] AS DOUBLE) * CAST(l.v[i.i] AS DOUBLE)))
         * sqrt(sum(CAST(r.v[i.i] AS DOUBLE) * CAST(r.v[i.i] AS DOUBLE)))), 6) AS cs
    FROM a l JOIN a r ON l.centroid_id = r.centroid_id AND l.rnk < r.rnk,
         range(1, 65) i(i)
    GROUP BY r.vec_id, l.vec_id
  ) WHERE cs >= 0.35
)
SELECT a.vec_id, a.centroid_id, a.csim AS centroid_sim,
  d.vec_id IS NULL AS keep
FROM a LEFT JOIN dropped d USING (vec_id)
""",
    # per-stratum relative quality gate: exact percentile thresholds
    "doc_quantile_filter": """
WITH f AS (
  SELECT doc_id, lang AS stratum,
    round(
      least((CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END) / 50.0, 1.0) * 0.4
      + (CASE WHEN (CASE WHEN length(trim(text)) > 0 THEN
              len(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x IN ('the','a','of','and','to','in','is','it')))
              / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
              ELSE 0.0 END) > 0.01
             AND (CASE WHEN length(trim(text)) > 0 THEN
              len(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x IN ('the','a','of','and','to','in','is','it')))
              / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
              ELSE 0.0 END) < 0.6
            THEN 1.0 ELSE 0.3 END) * 0.3
      + (1.0 - least((CASE WHEN length(lower(text)) > 0
            THEN (length(lower(text))
                  - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
                 / CAST(length(lower(text)) AS DOUBLE)
            ELSE 0.0 END) * 5, 1.0)) * 0.3
    , 6) AS quality
  FROM documents
), th AS (
  SELECT stratum, round(quantile_cont(quality, 0.2), 6) + 0.0 AS q_threshold
  FROM f GROUP BY stratum
)
SELECT doc_id, stratum, quality, q_threshold, quality >= q_threshold AS keep
FROM f JOIN th USING (stratum)
""",
    # per-source dashboard: dup rate + micro-unit integer quality means
    "doc_source_profile": """
WITH docs_plus AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang, source
  FROM documents WHERE doc_id % 10 = 0
), f AS (
  SELECT doc_id, source, lang,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
    CAST(round(round((
      least((CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END) / 50.0, 1.0) * 0.4
      + (CASE WHEN (CASE WHEN length(trim(text)) > 0 THEN
              len(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x IN ('the','a','of','and','to','in','is','it')))
              / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
              ELSE 0.0 END) > 0.01
             AND (CASE WHEN length(trim(text)) > 0 THEN
              len(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x IN ('the','a','of','and','to','in','is','it')))
              / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
              ELSE 0.0 END) < 0.6
            THEN 1.0 ELSE 0.3 END) * 0.3
      + (1.0 - least((CASE WHEN length(lower(text)) > 0
            THEN (length(lower(text))
                  - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
                 / CAST(length(lower(text)) AS DOUBLE)
            ELSE 0.0 END) * 5, 1.0)) * 0.3
    ), 6) * 1000000) AS BIGINT) AS q6
  FROM docs_plus
), c AS (
  SELECT fp, count(*) AS n_fp FROM f GROUP BY fp
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
  round(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
    + 0.0 AS dup_rate,
  round(sum(q6) / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS mean_quality,
  round(sum(n_tokens) / CAST(count(*) AS DOUBLE), 6) AS mean_tokens,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM f JOIN c USING (fp)
GROUP BY source
""",
    # distributed PCA fit stats: population mean/covariance, upper triangle
    "emb_pca_moments": """
WITH ex AS (
  SELECT vec_id, CAST(i.i AS INT) - 1 AS i, CAST(embedding[i.i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) i(i)
)
SELECT a.i AS i, b.i AS j,
  CAST(count(*) AS BIGINT) AS n_vecs,
  round(sum(a.v) / count(*), 6) + 0.0 AS mean_i,
  round(sum(b.v) / count(*), 6) + 0.0 AS mean_j,
  round(sum(a.v * b.v) / count(*)
        - (sum(a.v) / count(*)) * (sum(b.v) / count(*)), 6) + 0.0 AS cov_ij
FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
""",
    # sliding-window chunking: spans are a pure function of n_tokens
    "doc_chunk_spans": """
WITH toks AS (
  SELECT doc_id,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
  FROM documents
), counted AS (
  SELECT doc_id, n_tokens,
    CAST(CASE WHEN n_tokens <= 0 THEN 0
         WHEN n_tokens <= 32 THEN 1
         ELSE (n_tokens - 32 + 24 - 1) // 24 + 1 END AS BIGINT) AS n_chunks
  FROM toks
)
SELECT doc_id, n_tokens, n_chunks,
  CAST(i AS BIGINT) AS chunk_idx,
  CAST(i * 24 AS BIGINT) AS tok_start,
  CAST(least(i * 24 + 32, n_tokens) AS BIGINT) AS tok_end
FROM counted, LATERAL unnest(range(0, n_chunks)) AS r(i)
WHERE n_chunks >= 1
""",
    # deterministic epoch shuffle: md5 shard + md5 intra-shard order
    "doc_shard_shuffle": """
SELECT doc_id,
  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS UBIGINT)
       % 16 AS INT) AS shard,
  CAST(row_number() OVER (
    PARTITION BY CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                      AS UBIGINT) % 16 AS INT)
    ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
FROM documents
""",
    "doc_boilerplate_ngrams": """
WITH toks AS (
  SELECT doc_id,
    string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), grams AS (
  SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS ngram
  FROM toks, LATERAL unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3
)
SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM grams GROUP BY ngram HAVING count(DISTINCT doc_id) >= 5
""",
    "doc_repetition_scores": """
WITH toks AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN []
         ELSE string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+')
    END AS t
  FROM documents
), g AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)), i -> concat_ws(' ', t[i], t[i+1]))
         ELSE [] END AS grams
  FROM toks
), m AS (
  SELECT doc_id, len(grams) AS n_grams,
    CASE WHEN len(grams) > 0
         THEN (len(grams) - len(list_distinct(grams))) / CAST(len(grams) AS DOUBLE)
         ELSE 0.0 END AS fd,
    CASE WHEN len(grams) > 0
         THEN list_max(list_transform(list_distinct(grams),
                x -> len(list_filter(grams, y -> y = x)))) / CAST(len(grams) AS DOUBLE)
         ELSE 0.0 END AS tf
  FROM g
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
  round(fd, 6) AS frac_dup_ngrams, round(tf, 6) AS top_ngram_frac,
  fd <= 0.2 AS keep
FROM m
""",
    "emb_quantized_topk": """
WITH dims AS (
  SELECT i.i AS pos, max(abs(CAST(e.embedding[i.i] AS DOUBLE))) AS s
  FROM embeddings e, range(1, 65) i(i)
  GROUP BY i.i
), recon AS (
  SELECT e.vec_id, i.i AS pos,
    CASE WHEN d.s > 0
         THEN floor(CAST(e.embedding[i.i] AS DOUBLE) / d.s * 127 + 0.5) * d.s / 127
         ELSE 0.0 END AS r
  FROM embeddings e CROSS JOIN range(1, 65) i(i) JOIN dims d ON d.pos = i.i
), q AS (
  SELECT pos, r AS qr FROM recon WHERE vec_id = 0
), dots AS (
  SELECT v.vec_id,
    sum(v.r * q.qr) AS d,
    sqrt(sum(v.r * v.r)) AS na,
    sqrt(sum(q.qr * q.qr)) AS nq
  FROM recon v JOIN q ON q.pos = v.pos
  WHERE v.vec_id <> 0
  GROUP BY v.vec_id
), ranked AS (
  SELECT vec_id, round(d / (na * nq), 6) AS cos_sim,
    CAST(row_number() OVER (ORDER BY d / (na * nq) DESC, vec_id ASC) AS INT) AS rank
  FROM dots
)
SELECT vec_id, cos_sim, rank FROM ranked WHERE rank <= 10
""",
    "doc_lang_id": """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), hits AS (
  SELECT doc_id, len(t) AS n,
    len(list_filter(t, x -> x IN ('en','de','fr','es'))) AS _dummy,
    len(list_filter(t, x -> x IN ('the','a','of','and'))) AS h_en,
    len(list_filter(t, x -> x IN ('der','die','und','das'))) AS h_de,
    len(list_filter(t, x -> x IN ('le','la','et','les'))) AS h_fr,
    len(list_filter(t, x -> x IN ('el','los','y','una'))) AS h_es,
    len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it'))) AS h_sw
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(h_en,h_de,h_fr,h_es) = 0 THEN 'und'
       WHEN h_en = greatest(h_en,h_de,h_fr,h_es) THEN 'en'
       WHEN h_de = greatest(h_en,h_de,h_fr,h_es) THEN 'de'
       WHEN h_fr = greatest(h_en,h_de,h_fr,h_es) THEN 'fr'
       ELSE 'es' END AS lang_pred,
  round(CASE WHEN n > 0 THEN h_sw / CAST(n AS DOUBLE) ELSE 0.0 END, 6) AS stopword_ratio
FROM hits
""",
    "doc_fingerprint": """
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
""",
    "doc_dedup_exact": _DOCS_PLUS_SQL + """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       count(*) AS n_docs,
       CAST(list_sort(list(doc_id)) AS VARCHAR) AS doc_ids
FROM docs_plus
GROUP BY 1 HAVING count(*) > 1
""",
    "doc_minhash_sig": _SHINGLES_SQL + """
SELECT doc_id,
  min(substr(md5('0:' || shingle), 1, 8)) AS sig_0,
  min(substr(md5('0:' || shingle), 9, 8)) AS sig_1,
  min(substr(md5('0:' || shingle), 17, 8)) AS sig_2,
  min(substr(md5('0:' || shingle), 25, 8)) AS sig_3
FROM sh GROUP BY doc_id
""",
    "doc_lsh_candidates": _SHINGLES_SQL + """,
sig AS (
  SELECT doc_id,
    min(substr(md5('0:' || shingle), 1, 8)) AS s0, min(substr(md5('0:' || shingle), 9, 8)) AS s1,
    min(substr(md5('0:' || shingle), 17, 8)) AS s2, min(substr(md5('0:' || shingle), 25, 8)) AS s3,
    min(substr(md5('1:' || shingle), 1, 8)) AS s4, min(substr(md5('1:' || shingle), 9, 8)) AS s5,
    min(substr(md5('1:' || shingle), 17, 8)) AS s6, min(substr(md5('1:' || shingle), 25, 8)) AS s7
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, 0 AS band, md5(concat_ws('|', s0, s1)) AS bucket FROM sig
  UNION ALL SELECT doc_id, 1, md5(concat_ws('|', s2, s3)) FROM sig
  UNION ALL SELECT doc_id, 2, md5(concat_ws('|', s4, s5)) FROM sig
  UNION ALL SELECT doc_id, 3, md5(concat_ws('|', s6, s7)) FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b USING (band, bucket)
WHERE a.doc_id < b.doc_id
""",
    "doc_jaccard_pairs": _SHINGLES_SQL + _JACCARD_CTES + """
SELECT doc_a, doc_b, jaccard FROM pairs
""",
    "doc_dup_clusters": _SHINGLES_SQL.replace("WITH docs_plus", "WITH RECURSIVE docs_plus", 1)
    + _JACCARD_CTES + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
csize AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
  c.doc_id = c.cluster_id AS is_rep
FROM comp c JOIN csize s USING (cluster_id)
""",
    "doc_simhash_near_dups": _DOCS_PLUS_SQL + """,
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM docs_plus WHERE length(trim(text)) > 0
),
tok_counts AS (
  SELECT doc_id, tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY 1, 2
),
vocab AS (
  SELECT tok, CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS h
  FROM (SELECT DISTINCT tok FROM tok_counts)
),
votes AS (
  SELECT t.doc_id, b.bit,
    sum(t.cnt * (2 * CAST((v.h >> CAST(b.bit AS UBIGINT)) & 1 AS BIGINT) - 1)) AS vote
  FROM tok_counts t JOIN vocab v USING (tok), (SELECT unnest(range(64)) AS bit) b
  GROUP BY 1, 2
),
sig0 AS (
  -- 64-char bitstring (UBIGINT << 63 overflows in DuckDB; BIT xor doesn't)
  SELECT doc_id,
    string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS bs
  FROM votes GROUP BY doc_id
),
sig AS (
  SELECT d.doc_id, CAST(coalesce(s.bs, repeat('0', 64)) AS BIT) AS s
  FROM docs_plus d LEFT JOIN sig0 s USING (doc_id)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 3
""",
    "doc_pack_offsets": """
WITH toks AS (
  SELECT doc_id,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS UBIGINT) % 16 AS INT) AS shard
  FROM documents
), offs AS (
  SELECT doc_id, shard, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
  FROM toks
)
SELECT doc_id, shard, n_tokens, start_off,
  CAST(floor(start_off / 512) AS BIGINT) AS first_chunk,
  CAST(CASE WHEN n_tokens > 0 THEN floor((start_off + n_tokens - 1) / 512)
            ELSE floor(start_off / 512) END AS BIGINT) AS last_chunk
FROM offs
""",
    "doc_clean_corpus": _DOCS_PLUS_SQL + _SCORED_SQL + """, kept AS (
  SELECT * FROM scored WHERE q >= 0.5
), firsts AS (
  SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp
)
SELECT k.doc_id, k.n_tokens, round(k.q, 6) AS quality
FROM kept k JOIN firsts d ON k.fp = d.fp AND k.doc_id = d.doc_id
""",
    # Near-dup cleaning: CC closure over the verified pairs -> drop
    # non-representative cluster members -> the same scoring/filter
    "doc_clean_corpus_near": _SHINGLES_SQL.replace(
        "WITH docs_plus", "WITH RECURSIVE docs_plus", 1
    ) + _JACCARD_CTES + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
dropped AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)""" + _SCORED_SQL + """
SELECT s.doc_id, s.n_tokens, round(s.q, 6) AS quality
FROM scored s LEFT JOIN dropped d USING (doc_id)
WHERE d.doc_id IS NULL AND s.q >= 0.5
""",
    "doc_quality": """
WITH f AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x IN ('the','a','of','and','to','in','is','it'))) END AS h_sw,
    length(lower(text)) AS n_low,
    length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS n_stripped
  FROM documents
)
SELECT doc_id,
  round(
    least(n / 50.0, 1.0) * 0.4
    + (CASE WHEN (CASE WHEN n > 0 THEN h_sw / CAST(n AS DOUBLE) ELSE 0.0 END) > 0.01
             AND (CASE WHEN n > 0 THEN h_sw / CAST(n AS DOUBLE) ELSE 0.0 END) < 0.6
            THEN 1.0 ELSE 0.3 END) * 0.3
    + (1.0 - least((CASE WHEN n_low > 0
                         THEN (n_low - n_stripped) / CAST(n_low AS DOUBLE)
                         ELSE 0.0 END) * 5, 1.0)) * 0.3
  , 6) AS quality
FROM f
""",
    "emb_cosine_topk": """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
dots AS (
  SELECT e.vec_id,
    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS d,
    sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS na,
    sqrt(sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE))) AS nq
  FROM embeddings e, q, range(1, 65) i(i)
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id
),
ranked AS (
  SELECT vec_id, round(d / (na * nq), 6) AS cos_sim,
    CAST(row_number() OVER (ORDER BY d / (na * nq) DESC, vec_id ASC) AS INT) AS rank
  FROM dots
)
SELECT vec_id, cos_sim, rank FROM ranked WHERE rank <= 10
""",
    "emb_ivf_assign": """
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10
),
dots AS (
  SELECT e.vec_id, c.centroid_id,
    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.cv[i.i] AS DOUBLE)) AS d,
    sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))) AS na,
    sqrt(sum(CAST(c.cv[i.i] AS DOUBLE) * CAST(c.cv[i.i] AS DOUBLE))) AS nc
  FROM embeddings e, cents c, range(1, 65) i(i)
  GROUP BY 1, 2
),
best AS (
  SELECT vec_id, centroid_id, round(d / (na * nc), 6) AS cos_sim,
    row_number() OVER (PARTITION BY vec_id ORDER BY d / (na * nc) DESC, centroid_id ASC) AS rn
  FROM dots
)
SELECT centroid_id, count(*) AS n_vecs, round(avg(cos_sim), 4) AS avg_sim
FROM best WHERE rn = 1 GROUP BY centroid_id
""",
    "emb_ann_pairs": """
WITH b AS (
  SELECT vec_id, embedding,
    (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
  FROM embeddings
),
cand AS (
  SELECT l.vec_id AS vec_a, r.vec_id AS vec_b, l.embedding AS ea, r.embedding AS eb
  FROM b l JOIN b r USING (bucket) WHERE l.vec_id < r.vec_id
),
scored AS (
  SELECT vec_a, vec_b,
    round(sum(CAST(ea[i.i] AS DOUBLE) * CAST(eb[i.i] AS DOUBLE))
      / (sqrt(sum(CAST(ea[i.i] AS DOUBLE) * CAST(ea[i.i] AS DOUBLE)))
         * sqrt(sum(CAST(eb[i.i] AS DOUBLE) * CAST(eb[i.i] AS DOUBLE)))), 6) AS cos_sim
  FROM cand, range(1, 65) i(i)
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.25
""",
}

# Generated oracles (programmatic SQL to avoid hand-typo'd bit flips).

_ANN_BUCKET_CTE = """
WITH b AS (
  SELECT vec_id, embedding,
    (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
     CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
  FROM embeddings
)"""


def _multiprobe_oracle(m: int = 8, threshold: float = 0.25) -> str:
    probes = ["SELECT vec_id, embedding, bucket AS probe FROM b"]
    for i in range(1, m + 1):
        flip = (
            f"substr(bucket, 1, {i - 1}) || "
            f"(CASE WHEN substr(bucket, {i}, 1) = '1' THEN '0' ELSE '1' END) || "
            f"substr(bucket, {i + 1}, {m - i})"
        )
        probes.append(f"SELECT vec_id, embedding, {flip} FROM b")
    return (
        _ANN_BUCKET_CTE
        + ", probes AS (" + " UNION ALL ".join(probes) + "),"
        + """
cand AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b,
         l.embedding AS ea, r.embedding AS eb
  FROM b l JOIN probes r ON l.bucket = r.probe AND l.vec_id < r.vec_id
),
scored AS (
  SELECT vec_a, vec_b,
    round(sum(CAST(ea[i.i] AS DOUBLE) * CAST(eb[i.i] AS DOUBLE))
      / (sqrt(sum(CAST(ea[i.i] AS DOUBLE) * CAST(ea[i.i] AS DOUBLE)))
         * sqrt(sum(CAST(eb[i.i] AS DOUBLE) * CAST(eb[i.i] AS DOUBLE)))), 6) AS cos_sim
  FROM cand, range(1, 65) i(i)
  GROUP BY 1, 2
)
SELECT DISTINCT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= """
        + str(threshold)
    )


_IVF_SEARCH_ORACLE = """
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10
),
dots AS (
  SELECT e.vec_id, c.centroid_id,
    round(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.cv[i.i] AS DOUBLE))
      / (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
         * sqrt(sum(CAST(c.cv[i.i] AS DOUBLE) * CAST(c.cv[i.i] AS DOUBLE)))), 6) AS cos_sim
  FROM embeddings e, cents c, range(1, 65) i(i)
  GROUP BY 1, 2
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id ASC) AS rn
    FROM dots
  ) WHERE rn = 1
),
probes AS (
  SELECT centroid_id FROM dots WHERE vec_id = 0
  ORDER BY cos_sim DESC, centroid_id ASC LIMIT 2
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
in_probed AS (
  SELECT a.vec_id FROM assigned a JOIN probes p USING (centroid_id)
  WHERE a.vec_id <> 0
),
scored AS (
  SELECT e.vec_id,
    round(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE))
      / (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
         * sqrt(sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)))), 6) AS cos_sim
  FROM embeddings e JOIN in_probed USING (vec_id), q, range(1, 65) i(i)
  GROUP BY e.vec_id
)
SELECT vec_id, cos_sim,
  CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank
FROM scored
ORDER BY rank LIMIT 10
"""

# the protojson traces round-trip computes the identical rollup through a
# different codec, so the .pb sibling's oracle applies verbatim
ORACLES["pipeline_otlp_json_traces_roundtrip"] = ORACLES["pipeline_pb_traces_roundtrip"]
ORACLES["pipeline_otlp_json_metrics_roundtrip"] = ORACLES["pipeline_pb_metrics_roundtrip"]

ORACLES["emb_ann_pairs_multiprobe"] = _multiprobe_oracle()
ORACLES["emb_ivf_search"] = _IVF_SEARCH_ORACLE


def _banded_oracle(m: int = 16, n_tables: int = 4, threshold: float = 0.9) -> str:
    tables = []
    for t in range(n_tables):
        bits = " || ".join(
            f"CASE WHEN embedding[{t * m + i + 1}] >= 0 THEN '1' ELSE '0' END"
            for i in range(m)
        )
        tables.append(f"SELECT vec_id, embedding, {t} AS tbl, ({bits}) AS bucket FROM aug")
    return (
        """
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 5 = 0
),
b AS ("""
        + "\nUNION ALL ".join(tables)
        + """),
cand AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b,
         l.embedding AS ea, r.embedding AS eb
  FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
),
scored AS (
  SELECT vec_a, vec_b,
    round(sum(CAST(ea[i.i] AS DOUBLE) * CAST(eb[i.i] AS DOUBLE))
      / (sqrt(sum(CAST(ea[i.i] AS DOUBLE) * CAST(ea[i.i] AS DOUBLE)))
         * sqrt(sum(CAST(eb[i.i] AS DOUBLE) * CAST(eb[i.i] AS DOUBLE)))), 6) AS cos_sim
  FROM cand, range(1, 65) i(i)
  GROUP BY 1, 2
)
SELECT DISTINCT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= """
        + str(threshold)
    )


ORACLES["emb_ann_pairs_banded"] = _banded_oracle()

# Recursive-CTE connected components over the banded near-dup pairs:
# min reachable vec_id across the symmetric edge closure = cluster id
ORACLES["emb_dup_clusters"] = (
    _banded_oracle().replace("\nWITH aug AS", "\nWITH RECURSIVE aug AS", 1)
    .replace(
        "SELECT DISTINCT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.9",
        """, p AS (SELECT DISTINCT vec_a, vec_b FROM scored WHERE cos_sim >= 0.9),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM p
  UNION SELECT vec_b, vec_a FROM p
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY node),
csize AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.vec_id, c.cluster_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
  c.vec_id = c.cluster_id AS is_rep
FROM comp c JOIN csize s USING (cluster_id)""",
    )
)

# Two full Lloyd iterations from the seed centroids (vec_id < 5), then a
# final assignment census. Normalization is skipped (cosine ranking is
# scale-invariant); every assignment uses the same round-6 + centroid_id
# tie-break as assign_to_centroids.
_KMEANS_ASSIGN = """
  SELECT vec_id, centroid_id FROM (
    SELECT s.vec_id, s.centroid_id,
      row_number() OVER (PARTITION BY s.vec_id
                         ORDER BY s.cos_sim DESC, s.centroid_id ASC) AS rn
    FROM {scored} s
  ) WHERE rn = 1
"""

_KMEANS_CTES = (
    """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
c0 AS (
  SELECT vec_id AS centroid_id, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS m
  FROM e, range(1, 65) i(i) WHERE vec_id < 5
),
s1 AS (
  SELECT e.vec_id, c.centroid_id,
    round(sum(CAST(e.embedding[c.dim] AS DOUBLE) * c.m)
      / (sqrt(sum(CAST(e.embedding[c.dim] AS DOUBLE) * CAST(e.embedding[c.dim] AS DOUBLE)))
         * sqrt(sum(c.m * c.m))), 6) AS cos_sim
  FROM e CROSS JOIN c0 c GROUP BY 1, 2
),
a1 AS ("""
    + _KMEANS_ASSIGN.format(scored="s1")
    + """),
c1 AS (
  SELECT a1.centroid_id, i.i AS dim, avg(CAST(e.embedding[i.i] AS DOUBLE)) AS m
  FROM e JOIN a1 USING (vec_id), range(1, 65) i(i) GROUP BY 1, 2
),
s2 AS (
  SELECT e.vec_id, c.centroid_id,
    round(sum(CAST(e.embedding[c.dim] AS DOUBLE) * c.m)
      / (sqrt(sum(CAST(e.embedding[c.dim] AS DOUBLE) * CAST(e.embedding[c.dim] AS DOUBLE)))
         * sqrt(sum(c.m * c.m))), 6) AS cos_sim
  FROM e CROSS JOIN c1 c GROUP BY 1, 2
),
a2 AS ("""
    + _KMEANS_ASSIGN.format(scored="s2")
    + """),
c2 AS (
  SELECT a2.centroid_id, i.i AS dim, avg(CAST(e.embedding[i.i] AS DOUBLE)) AS m
  FROM e JOIN a2 USING (vec_id), range(1, 65) i(i) GROUP BY 1, 2
),
s3 AS (
  SELECT e.vec_id, c.centroid_id,
    round(sum(CAST(e.embedding[c.dim] AS DOUBLE) * c.m)
      / (sqrt(sum(CAST(e.embedding[c.dim] AS DOUBLE) * CAST(e.embedding[c.dim] AS DOUBLE)))
         * sqrt(sum(c.m * c.m))), 6) AS cos_sim
  FROM e CROSS JOIN c2 c GROUP BY 1, 2
),
a3 AS ("""
    + _KMEANS_ASSIGN.format(scored="s3")
    + """)"""
)

ORACLES["emb_kmeans_centroids"] = (
    _KMEANS_CTES
    + """
SELECT centroid_id, count(*) AS n_vecs, CAST(64 AS INT) AS dim
FROM a3 GROUP BY centroid_id
"""
)

# Train -> index -> search: probe the 2 nearest TRAINED (c2) centroids for
# the query vector, exact-rescore only the vectors a3 assigned to them.
ORACLES["emb_ivf_search_trained"] = (
    _KMEANS_CTES
    + """,
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cprobe AS (
  SELECT c.centroid_id,
    round(sum(CAST(q.qv[c.dim] AS DOUBLE) * c.m)
      / (sqrt(sum(CAST(q.qv[c.dim] AS DOUBLE) * CAST(q.qv[c.dim] AS DOUBLE)))
         * sqrt(sum(c.m * c.m))), 6) AS qc
  FROM c2 c, q GROUP BY 1
),
probes AS (SELECT centroid_id FROM cprobe ORDER BY qc DESC, centroid_id ASC LIMIT 2),
in_probed AS (
  SELECT a.vec_id FROM a3 a JOIN probes USING (centroid_id) WHERE a.vec_id <> 0
),
scoredq AS (
  SELECT e.vec_id,
    round(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE))
      / (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
         * sqrt(sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)))), 6) AS cos_sim
  FROM e JOIN in_probed USING (vec_id), q, range(1, 65) i(i)
  GROUP BY e.vec_id
)
SELECT vec_id, cos_sim,
  CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank
FROM scoredq ORDER BY rank LIMIT 10
"""
)

# Stupid-Backoff bigram LM (Brants et al. 2007): trained on the
# doc_id%10!=0 subset, scored over all docs — the exact arithmetic of
# functions/text.py::bigram_logprob (seen: ln(c12/c1); backoff:
# ln(0.4*c2/N); OOV floor -20).
ORACLES["doc_bigram_logprob"] = """
WITH toks_all AS (
  SELECT doc_id,
    string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
),
big_all AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
    i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg
  FROM toks_all WHERE len(t) >= 2
),
bigf AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big_all),
lm_toks AS (SELECT unnest(t) AS tok FROM toks_all WHERE doc_id % 10 <> 0),
uni AS (SELECT tok, count(*) AS c_uni FROM lm_toks GROUP BY tok),
tot AS (SELECT sum(c_uni) AS n_total FROM uni),
bi AS (SELECT w1, w2, count(*) AS c_bi FROM bigf WHERE doc_id % 10 <> 0 GROUP BY 1, 2)
SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  round(avg(CASE
    WHEN b.c_bi IS NOT NULL THEN ln(CAST(b.c_bi AS DOUBLE) / CAST(u1.c_uni AS DOUBLE))
    WHEN u2.c_uni IS NOT NULL THEN ln(0.4 * CAST(u2.c_uni AS DOUBLE) / CAST(t.n_total AS DOUBLE))
    ELSE -20.0 END), 6) AS mean_logprob
FROM bigf f
LEFT JOIN bi b USING (w1, w2)
LEFT JOIN uni u1 ON f.w1 = u1.tok
LEFT JOIN uni u2 ON f.w2 = u2.tok
CROSS JOIN tot t
GROUP BY f.doc_id
"""

# Product quantization: 8 subspaces x 8 dims, 16 seed codewords per
# subspace (the first 16 vectors' subvectors), L2-argmin codes with
# (dist, code_id) tie-break — the exact arithmetic of
# functions/similarity.py::pq_encode replayed via range() joins.
_PQ_CTES = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
cb AS (
  SELECT s.s AS sub, c.vec_id AS code_id, c.embedding AS cv
  FROM e c, range(0, 8) s(s) WHERE c.vec_id < 16
),
dist AS (
  SELECT e.vec_id, cb.sub, cb.code_id,
    round(sum(
      (CAST(e.embedding[cb.sub*8 + j.j] AS DOUBLE) - CAST(cb.cv[cb.sub*8 + j.j] AS DOUBLE))
      * (CAST(e.embedding[cb.sub*8 + j.j] AS DOUBLE) - CAST(cb.cv[cb.sub*8 + j.j] AS DOUBLE))
    ), 6) AS dist
  FROM e CROSS JOIN cb, range(1, 9) j(j)
  GROUP BY 1, 2, 3
),
best AS (
  SELECT vec_id, sub, code_id FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code_id) = 1
)"""

ORACLES["emb_pq_codes"] = (
    _PQ_CTES
    + """
SELECT CAST(sub AS INT) AS sub, CAST(code_id AS INT) AS code_id,
  count(*) AS n_vecs
FROM best GROUP BY 1, 2
"""
)

ORACLES["emb_pq_search"] = (
    _PQ_CTES
    + """,
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
lut AS (
  SELECT cb.sub, cb.code_id,
    round(sum(CAST(q.qv[cb.sub*8 + j.j] AS DOUBLE) * CAST(cb.cv[cb.sub*8 + j.j] AS DOUBLE)), 6) AS part
  FROM cb, q, range(1, 9) j(j) GROUP BY 1, 2
),
adc AS (
  SELECT b.vec_id, round(sum(l.part), 6) AS adc_score
  FROM best b JOIN lut l USING (sub, code_id)
  WHERE b.vec_id <> 0
  GROUP BY 1
)
SELECT vec_id, adc_score,
  CAST(row_number() OVER (ORDER BY adc_score DESC, vec_id ASC) AS INT) AS rank
FROM adc ORDER BY rank LIMIT 10
"""
)

# Count-min sketch: 4x256 cells, bucket = md5-uint48("r:" || tok) % 256 —
# byte-identical to functions/sketches.py; estimates are min over 4 cells.
ORACLES["doc_token_cms"] = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
),
cnt AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok),
top AS (SELECT tok, exact_n FROM cnt ORDER BY exact_n DESC, tok ASC LIMIT 20),
cells AS (
  SELECT r.r AS row,
    CAST(CAST('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || tok), 1, 12) AS UBIGINT)
         % 256 AS INT) AS col
  FROM toks, range(0, 4) r(r)
),
sketch AS (SELECT row, col, count(*) AS c FROM cells GROUP BY 1, 2),
est AS (
  SELECT t.tok, min(s.c) AS cms_n
  FROM top t
  JOIN range(0, 4) r(r) ON true
  JOIN sketch s ON s.row = r.r AND s.col =
    CAST(CAST('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || t.tok), 1, 12) AS UBIGINT)
         % 256 AS INT)
  GROUP BY t.tok
)
SELECT tok, exact_n, cms_n FROM top JOIN est USING (tok)
"""

# Incremental-ingestion dedup: index = doc_id%3==0; batch = rest + planted
# exact/near/batch-internal copies. Mirrors functions/dedup.py::
# incremental_dedup (md5 fingerprints, 8-hash/4-band minhash, k=3 shingle
# Jaccard at 0.7, precedence exact > batch > near).
ORACLES["doc_incremental_dedup"] = """
WITH index_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 9 = 0
  UNION ALL SELECT doc_id + 200000, text || ' near duplicate tail'
    FROM documents WHERE doc_id % 15 = 0
  UNION ALL SELECT doc_id + 300000, text
    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1
),
fpb AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM batch
),
fpi AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM index_docs
),
exact AS (SELECT doc_id FROM fpb WHERE fp IN (SELECT fp FROM fpi)),
keeper AS (SELECT fp, min(doc_id) AS kpr FROM fpb GROUP BY fp),
bdup AS (SELECT b.doc_id FROM fpb b JOIN keeper USING (fp) WHERE b.doc_id <> kpr),
surv AS (
  SELECT b.doc_id, b.text FROM batch b
  LEFT JOIN exact e USING (doc_id)
  LEFT JOIN bdup d USING (doc_id)
  WHERE e.doc_id IS NULL AND d.doc_id IS NULL
),
tb AS (
  SELECT doc_id,
    string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM surv
),
shb AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM tb
  )
),
ti AS (
  SELECT doc_id,
    string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM index_docs
),
shi AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM ti
  )
),
sigb AS (
  SELECT doc_id,
    min(substr(md5('0:' || shingle), 1, 8)) AS s0, min(substr(md5('0:' || shingle), 9, 8)) AS s1,
    min(substr(md5('0:' || shingle), 17, 8)) AS s2, min(substr(md5('0:' || shingle), 25, 8)) AS s3,
    min(substr(md5('1:' || shingle), 1, 8)) AS s4, min(substr(md5('1:' || shingle), 9, 8)) AS s5,
    min(substr(md5('1:' || shingle), 17, 8)) AS s6, min(substr(md5('1:' || shingle), 25, 8)) AS s7
  FROM shb GROUP BY doc_id
),
sigi AS (
  SELECT doc_id,
    min(substr(md5('0:' || shingle), 1, 8)) AS s0, min(substr(md5('0:' || shingle), 9, 8)) AS s1,
    min(substr(md5('0:' || shingle), 17, 8)) AS s2, min(substr(md5('0:' || shingle), 25, 8)) AS s3,
    min(substr(md5('1:' || shingle), 1, 8)) AS s4, min(substr(md5('1:' || shingle), 9, 8)) AS s5,
    min(substr(md5('1:' || shingle), 17, 8)) AS s6, min(substr(md5('1:' || shingle), 25, 8)) AS s7
  FROM shi GROUP BY doc_id
),
bb AS (
  SELECT doc_id, 0 AS band, md5(concat_ws('|', s0, s1)) AS bucket FROM sigb
  UNION ALL SELECT doc_id, 1, md5(concat_ws('|', s2, s3)) FROM sigb
  UNION ALL SELECT doc_id, 2, md5(concat_ws('|', s4, s5)) FROM sigb
  UNION ALL SELECT doc_id, 3, md5(concat_ws('|', s6, s7)) FROM sigb
),
bi AS (
  SELECT doc_id AS index_doc, 0 AS band, md5(concat_ws('|', s0, s1)) AS bucket FROM sigi
  UNION ALL SELECT doc_id, 1, md5(concat_ws('|', s2, s3)) FROM sigi
  UNION ALL SELECT doc_id, 2, md5(concat_ws('|', s4, s5)) FROM sigi
  UNION ALL SELECT doc_id, 3, md5(concat_ws('|', s6, s7)) FROM sigi
),
cand AS (
  SELECT DISTINCT a.doc_id, b.index_doc
  FROM bb a JOIN bi b USING (band, bucket)
),
szb AS (SELECT doc_id, count(*) AS n_b FROM shb GROUP BY 1),
szi AS (SELECT doc_id AS index_doc, count(*) AS n_i FROM shi GROUP BY 1),
common AS (
  SELECT c.doc_id, c.index_doc, count(*) AS n_common
  FROM shb a JOIN shi b USING (shingle)
  JOIN cand c ON c.doc_id = a.doc_id AND c.index_doc = b.doc_id
  GROUP BY 1, 2
),
near AS (
  SELECT DISTINCT doc_id FROM common
  JOIN szb USING (doc_id) JOIN szi USING (index_doc)
  WHERE round(n_common / CAST(n_b + n_i - n_common AS DOUBLE), 6) >= 0.7
)
SELECT b.doc_id,
  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
       WHEN d.doc_id IS NOT NULL THEN 'batch_dup'
       WHEN n2.doc_id IS NOT NULL THEN 'near_dup'
       ELSE 'new' END AS reason,
  (e.doc_id IS NULL AND d.doc_id IS NULL AND n2.doc_id IS NULL) AS keep
FROM batch b
LEFT JOIN exact e USING (doc_id)
LEFT JOIN bdup d USING (doc_id)
LEFT JOIN near n2 USING (doc_id)
"""

# BM25 (Lucene idf variant). The SQL mirrors the Spark operation ORDER so
# the doubles agree bit-for-bit before the round-6: (1.2 + 1.0) computed,
# not folded to a 2.2 literal (1-ulp trap); (0.75*dl)/avgdl left-assoc.
ORACLES["doc_bm25_topk"] = """
WITH toks AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2
),
dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
idf AS (
  SELECT tok, ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) AS idf, avgdl
  FROM dft, stats
),
scored AS (
  SELECT t.doc_id,
    round(sum(i.idf * (t.tf * (1.2 + 1.0))
      / (t.tf + 1.2 * (0.25 + (0.75 * d.dl) / i.avgdl))), 6) AS bm25
  FROM tf t JOIN idf i USING (tok) JOIN doclen d USING (doc_id)
  GROUP BY 1
)
SELECT doc_id, bm25,
  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
FROM scored ORDER BY rank LIMIT 20
"""

# KL(P_source || P_corpus) over unigram token distributions, exact.
ORACLES["doc_source_kl_drift"] = """
WITH st AS (
  SELECT source AS stratum,
    unnest(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
),
stc AS (SELECT stratum, tok, count(*) AS c_st FROM st GROUP BY 1, 2),
corpus AS (SELECT tok, sum(c_st) AS c_all FROM stc GROUP BY 1),
totals AS (SELECT stratum, sum(c_st) AS n_st FROM stc GROUP BY 1),
grand AS (SELECT sum(c_all) AS n_all FROM corpus)
SELECT s.stratum, CAST(max(t.n_st) AS BIGINT) AS n_tokens,
  round(sum((CAST(s.c_st AS DOUBLE) / CAST(t.n_st AS DOUBLE))
    * ln((CAST(s.c_st AS DOUBLE) / CAST(t.n_st AS DOUBLE))
         / (CAST(c.c_all AS DOUBLE) / CAST(g.n_all AS DOUBLE)))), 6) AS kl
FROM stc s
JOIN corpus c USING (tok)
JOIN totals t USING (stratum)
CROSS JOIN grand g
GROUP BY 1
"""

# IVFADC: the emb_ivf_search coarse-probe CTEs composed with the _PQ_CTES
# code arithmetic — ADC scores only vectors assigned to the 2 probed lists.
ORACLES["emb_ivfpq_search"] = (
    _PQ_CTES
    + """,
cents AS (SELECT vec_id AS centroid_id, embedding AS cvv FROM e WHERE vec_id < 10),
dots AS (
  SELECT e.vec_id, c.centroid_id,
    round(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.cvv[i.i] AS DOUBLE))
      / (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
         * sqrt(sum(CAST(c.cvv[i.i] AS DOUBLE) * CAST(c.cvv[i.i] AS DOUBLE)))), 6) AS cos_sim
  FROM e, cents c, range(1, 65) i(i)
  GROUP BY 1, 2
),
assigned AS (
  SELECT vec_id, centroid_id FROM dots
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id ASC) = 1
),
probes AS (
  SELECT centroid_id FROM dots WHERE vec_id = 0
  ORDER BY cos_sim DESC, centroid_id ASC LIMIT 2
),
in_probed AS (
  SELECT a.vec_id FROM assigned a JOIN probes p USING (centroid_id)
  WHERE a.vec_id <> 0
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
lut AS (
  SELECT cb.sub, cb.code_id,
    round(sum(CAST(q.qv[cb.sub*8 + j.j] AS DOUBLE) * CAST(cb.cv[cb.sub*8 + j.j] AS DOUBLE)), 6) AS part
  FROM cb, q, range(1, 9) j(j) GROUP BY 1, 2
),
adc AS (
  SELECT b.vec_id, round(sum(l.part), 6) AS adc_score
  FROM best b
  JOIN in_probed USING (vec_id)
  JOIN lut l USING (sub, code_id)
  GROUP BY 1
)
SELECT vec_id, adc_score,
  CAST(row_number() OVER (ORDER BY adc_score DESC, vec_id ASC) AS INT) AS rank
FROM adc ORDER BY rank LIMIT 10
"""
)

# Every queries() entry has an oracle_sql() entry: zero rows-only queries.
# (The multimodal decode stays an honest codec stub — but the stub's exact
# double arithmetic is itself SQL-replayed, so the plumbing is hash-gated.)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse -> enrich -> route -> per-sink aggregate counts."""
    return pipeline.q_pipeline_sink_counts(spark, "/root/testdata/sf0.001")


def _shipped(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Wrap a query so the package zip reaches Python workers first —
    module-level pandas-UDF functions unpickle by import on the worker, and
    the grading driver may run from a cwd where the repo isn't importable."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_shipped(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _shipped(fn) for k, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
