"""The declared query suite: every operator from SURVEY.md §2 (plus the
LLM-pipeline additions) as a (Spark callable, DuckDB oracle SQL) pair.

Contract (driver verify): for each name, the Spark DataFrame from
``QUERIES[name].spark(spark, sf_dir)`` must match the DuckDB result of
``QUERIES[name].oracle`` on row count, schema and order-insensitive
value hash.  Cross-engine exactness rules used throughout:

- **Money sums are computed in DECIMAL.**  Every money column is an
  exact 2-decimal value stored as double; casting to DECIMAL(p,2)
  recovers it exactly in both engines, decimal arithmetic is exact and
  order-independent (no float summation-order drift), and the final
  cast back to double is correctly rounded in both engines — so SUM /
  AVG results are bit-identical regardless of partitioning.
- **Ratios/averages** divide two already-identical values with one
  IEEE double division (identical in both engines).
- **Date parts** are cast to BIGINT on the Spark side (DuckDB's
  month()/hour() return BIGINT).
- **Every computed column is aliased identically in both dialects**
  (the driver compares columns by name).
- Ordering never matters (hash is order-insensitive), but LIMIT/top-k
  queries always carry a unique tie-break key so the *row set* is
  deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Importing a family module registers its queries.
from . import (  # noqa: F401
    analytics, dedup, graph, io_roundtrip, multimodal, relational, sampling,
    similarity, stats, streaming, text, tpch,
)
from .registry import QUERIES, Query

__all__ = ["QUERIES", "Query", "spark_queries", "oracle_queries"]


# ===========================================================================
# Driver verification window rotation
# ===========================================================================
# The driver hash-verifies only the FIRST 50 entries of queries() each
# round (CORRECTNESS_r{N}.json key list == iteration order of this dict).
# That order is therefore a *verification budget*, not an
# accident of file layout: round 2's mid-file insertions silently evicted
# the whole dedup/similarity/sink family from the round-1 window.
#
# From round 3 on the window is chosen EXPLICITLY here.  Rotation policy:
#   1. Queries that have never had a driver-green row go first (oracle-
#      backed ones prioritized — they get the full rows+schema+hash check).
#   2. Remaining never-verified queries queue right behind the window so
#      the next round's rotation picks them up (_NEXT_WINDOW_QUEUE).
#   3. Queries already driver-green in a past round (hashes recorded in
#      CORRECTNESS_r01/r02) go last — they stay guarded locally by
#      tests/test_oracle_parity.py, which runs the SAME sort+compare
#      contract against DuckDB for every oracle-backed entry.
# tests/test_suite_contract.py pins the window contents so future edits
# can't evict entries unknowingly.

#: Round-14 window: slot 1 = the standing SS2 canary; slots 2-19 =
#: every query whose operator internals changed this optimization round
#: (shared-gram minhash_audit + fused audit branches, shared-token
#: simhash_audit, fused CC rounds 0+1, batched pagerank checkpoints,
#: containment max_df parameter, jpp gram_frame refactor, spread
#: histogram inputs in trimmed_mean/_two_sample_running_counts) plus the
#: VERDICT r13 item-10 consumers (gini/_hhi re-verify the r13
#: equi-depth/global_row_number changes, bloom_fpp_audit pins the
#: portable bloom family against the r13 fast-family default,
#: bloom_prefilter_join re-verifies the flipped default end to end);
#: the rest is the r14 stale-first proposal (tools/next_window.py) in
#: proposal order.
DRIVER_WINDOW: list[str] = [
    "clean_pipeline",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_minhash_transitive",
    "dedup_components",
    "dedup_pipeline_transitive",
    "dedup_survivor_by_quality",
    "pagerank_order_part",
    "containment_pairs_prefix",
    "dedup_ngram_jaccard_prefix",
    "dedup_ngram_jaccard_freq",
    "dedup_graph_triangles",
    "dedup_graph_kcore",
    "dedup_simhash_portable",
    "dedup_incremental_batch",
    "gini_revenue_concentration",
    "market_concentration_hhi",
    "bloom_fpp_audit",
    "bloom_prefilter_join",
    "trimmed_mean_prices",
    "ks_drift_price",
    "auc_price_basket_size",
    "set_intersect",
    "set_except",
    "window_topk_per_group",
    "window_lag_delta",
    "window_moving_avg",
    "window_running_sum",
    "hourly_event_counts",
    "streaming_hourly_counts",
    "merge_user_intervals",
    "user_growth_daily",
    "retention_cohorts",
    "fk_integrity_audit",
    "pivot_event_matrix",
    "rollup_order_stats",
    "quality_gate_report",
    "text_token_stats",
    "text_quality_scores",
    "text_language_id",
    "text_fingerprint",
    "dedup_exact",
    "duplicated_ngram_spans",
    "dedup_embedding_cosine_lsh",
    "url_canonical_dedup",
    "edit_distance_pairs",
    "fuzzy_levenshtein",
    "knn_join_batch",
    "embedding_gram_matrix",
    "embedding_quantize",
]


#: Never-driver-verified queries queued for the NEXT round's window.
#: Every new registration this round must be appended here (it gets a
#: driver slot in the r13 rotation ahead of stale re-verification).
_NEXT_WINDOW_QUEUE: list[str] = []


#: Driver-green in a past round (hash-stable; guarded by local oracle
#: parity).  Grouped by the MOST RECENT driver-green round so the
#: stale-first rotation (tools/next_window.py) is auditable by eye.
#: EXPLICIT on purpose: a new registration that appears in none of the
#: three lists fails the assert below at import time, so every new query
#: must be placed in a bucket deliberately (usually _NEXT_WINDOW_QUEUE).
_PREVIOUSLY_VERIFIED: list[str] = [
    "embedding_group_mean",
    "multimodal_payload_meta",
    "sink_roundtrip",
    # stalest r14 proposal entries displaced by the changed-form
    # re-verification block (first in line if rotation continues)
    "csv_roundtrip",
    "json_roundtrip",
    "orc_roundtrip",
    "binaryfile_decode_fused",
    "schema_evolution_roundtrip",
    "merge_upsert_orders",
    "snapshot_diff_orders",
    "scd2_orders_history",
    "asof_click_attribution",
    "sessionize_events",
    "interval_overlap_pairs",
    "resample_gap_fill",
    "funnel_signup_purchase",
    "sample_hash_fraction",
    "bootstrap_revenue_ci",
    "chi2_event_dow",
    "acf_daily_revenue",
    "kmv_distinct_users",
    "dp_event_counts",
    "did_revenue_effect",
    "fdr_event_value_tests",
    "bpe_train_merges",
    "similarity_topk",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "filter_equality",
    "filter_null_disjunction",
    "filter_hour_range",
    "projection_rename_drop",
    "constant_column_stamp",
    "string_filter_generic",
    "time_bucket_enrich",
    "datetime_parts",
    "datetime_coerce",
    "string_trim",
    "json_extract_props",
    "row_count",
    "filtered_count",
    "null_matrix",
    "group_agg_stats",
    "time_bucket_rollup",
    "distinct_count",
    "pricing_summary",
    "join_broadcast_dims",
    "join_left_enrich",
    "join_semi",
    "lm_perplexity_scores",
    "binaryfile_ingest_roundtrip",
    "ivf_probe_verified",
    "temporal_split_audit",
    "join_anti",
    "join_range_buckets",
    "sql_revenue_by_nation",
    "shipping_priority_topk",
    "top_k_customers",
    "ordered_limit",
    "set_union",
    "train_test_split_counts",
    "mixture_by_source",
    "sample_per_group",
    "weighted_sample_per_group",
    "token_budget_mixture",
    "shuffle_shard_assign",
    "split_leakproof_by_content",
    "chunk_documents",
    "pack_token_windows",
    "corpus_prep",
    "redact_pii",
    "tfidf_top_terms",
    "repetition_scores",
    "decontaminate_overlap",
    "domain_stats",
    "token_divergence",
    "text_normalize_nfc",
    "exact_moment_stats",
    "group_linear_fit",
    "mutual_information",
    "cross_source_contamination",
    "streaming_sessionize",
    "streaming_dedup_counts",
    "streaming_enriched_totals",
    "streaming_interval_join",
    "streaming_ewma",
    "local_supplier_volume",
    "revenue_forecast_band",
    "bilateral_trade_volume",
    "returned_item_customers",
    "promo_revenue_share",
    "large_volume_customers",
    "brand_bracket_revenue",
    "market_share_by_year",
    "top_supplier_revenue",
    "embedding_pca_project",
    "bpe_encode_tokens",
    "dedup_span_removal",
    "dominant_part_suppliers",
    "sole_supplier_open_orders",
    "idle_rich_customers",
    "small_quantity_revenue",
    "customer_order_distribution",
    "quality_classifier_scores",
    "quality_classifier_bucketed",
    "bm25_search",
    "hybrid_retrieval_rrf",
    "cdc_apply_orders",
    "cdc_compact_feed",
    "session_window_native",
    "line_boilerplate_removal",
    "html_text_extraction",
    "inverted_index_postings",
    "null_safe_enrich",
    "join_full_outer",
    "window_percentile_ranks_dist",
    "ewma_by_user",
    "user_value_drawdown",
    "corpus_filter_funnel",
    "rolling_zscore_anomalies",
    "sink_quarantine_roundtrip",
    "bigram_logprob_scores",
    "equi_depth_histogram",
    "skew_salted_agg",
    "rolling_hour_window",
    "sliding_window_counts",
    "rolling_distinct_users",
    "first_event_per_user",
    "event_transition_matrix",
    "revenue_share_of_total",
    "topk_with_ties_per_nation",
    "multimodal_image_decode",
    "multimodal_image_resize",
    "multimodal_audio_features",
    "multimodal_video_frames",
    "multimodal_format_sniff",
    "table_modes_roundtrip",
    "similarity_lsh_topk",
    "kmeans_step_verified",
    "streaming_countmin",
    "mahalanobis_outliers",
    "embedding_centroids",
    "embedding_centroids_udaf",
    "dedup_minhash_portable",
    "asof_next_purchase",
    "cheapest_part_supplier_region",
    "late_ship_priority_counts",
    "nation_year_profit",
    "important_part_values",
    "ship_delay_priority_mix",
    "part_supplier_variety",
    "string_agg_per_group",
    "grouping_sets_quantity",
    "cube_order_counts",
    "grouped_median",
    "grouped_mode",
    "having_filter",
    "conditional_agg",
    "robust_spread",
    "value_histogram",
    "window_first_last",
    "window_rank_ntile",
    "window_cume_nth",
    "date_arithmetic",
    "exists_subquery",
    "unpivot_part_metrics",
    "fill_defaults",
    "word_counts",
    "regexp_extract_supplier",
    "clip_outliers",
    "zorder_bucket_stats",
    "compact_roundtrip",
    "manifest_partition_counts",
    "kfold_assign_counts",
    "embedding_norm_buckets",
    "events_dow_hour_matrix",
    "pmi_top_bigrams",
    "dedup_family_size_hist",
    "order_lead_time_monthly",
    "supplier_pareto_share",
    "countmin_heavy_hitters",
    "skew_salted_join",
    "window_percentile_ranks",
    "clean_pipeline_dirty",
    "scalar_function_battery",
    "containment_pairs_blocked",
    "approx_quantiles",
    "approx_distinct",
    "hll_mergeable_rollup",
    "hll_audience_overlap",
    "schema_contract_enforced",
    "url_ingest_roundtrip",
    "sql_extract_roundtrip",
    "window_range_frame_sum",
    "set_ops_multiset",
    "asof_nearest_event",
    "gopher_quality_rules",
    "user_activity_streaks",
    "bpe_pair_counts",
    "semdedup_prune",
    "k_anonymity_events",
    "profile_orders_table",
    "dsir_importance_weights",
    "incremental_agg_merge",
    "psi_drift_orders",
    "temperature_lang_rates",
    "gapfill_user_hourly",
    "corr_matrix_lineitem",
    "benford_price_audit",
    "basket_brand_lift",
    "bucketed_join_roundtrip",
    "incremental_join_view",
    "streaming_upsert_apply",
    "c4_cleaning_rules",
    "impute_group_mean",
    "join_size_estimate_cm",
    "hierarchy_share_rollup",
    "session_path_trigrams",
    "rfm_segments",
    "cusum_changepoint_daily",
    "rolling_corr_daily",
    "keyness_log_odds",
    "ab_test_conversion",
    "cohort_ltv_curve",
    "neyman_allocation_orders",
    "txlog_time_travel",
    "graph_bfs_hops",
    "survival_kaplan_meier",
    "seasonal_dow_anomalies",
    "user_event_entropy",
    "l_diversity_events",
    "zipf_vocab_fit",
    "similarity_ivf_topk",
]


_rotated = (
    DRIVER_WINDOW + _NEXT_WINDOW_QUEUE + _PREVIOUSLY_VERIFIED
)
# Set equality AND no duplicates: a length-only check lets a pasted
# duplicate cancel out a forgotten registration, and the reorder
# below would then silently drop a query from queries()/oracle_sql().
assert len(_rotated) == len(set(_rotated)), (
    f"duplicate names in rotation lists: "
    f"{sorted(n for n in set(_rotated) if _rotated.count(n) > 1)}"
)
assert set(_rotated) == set(QUERIES), (
    f"rotation lists out of sync with registrations: "
    f"missing={set(QUERIES) - set(_rotated)} "
    f"unknown={set(_rotated) - set(QUERIES)}"
)
# Reorder in place (pop every entry, re-insert in rotation order), so
# every module that imported QUERIES sees this order.
QUERIES.update({name: QUERIES.pop(name) for name in _rotated})


# ===========================================================================
# public accessors (driver contract)
# ===========================================================================

def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark for name, q in QUERIES.items()}


def oracle_queries() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
