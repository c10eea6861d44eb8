"""Gold query plans — the SURVEY §2 operator inventory as named queries.

Each query is registered with an optional DuckDB-equivalent ANSI-SQL
oracle (the driver's correctness gate). Importing this package loads
every plan module so ``ALL_QUERIES`` is complete.
"""

from .base import ALL_QUERIES, Query, query

from . import relational  # noqa: E402,F401
from . import textops  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import temporal  # noqa: E402,F401
from . import domain  # noqa: E402,F401
from . import mediaops  # noqa: E402,F401
from . import curation  # noqa: E402,F401
from . import llmprep  # noqa: E402,F401

# The correctness driver checks the FIRST ~50 registered queries per
# round in dict order, so queries changed since the last round boundary
# (817e5b5) sit FIRST, in scripts/changed_queries.py's AST-attributed
# closure (shared-helper edits propagated). This change set has
# 175 members, more than the window holds: `sources/registry.table`
# changed, so every query that reads a table is in it. The 41 queries
# whose plan code the latest change alters lead, and the window is
# saturated with the rest. The dynamic containment test
# (tests/test_round5_plan_shapes.py) re-derives the changed set on
# every pytest run and asserts the window is saturated with it.
# Changed-set provenance (oracles byte-unchanged):
# - latest: one Lloyd loop for the coarse and PQ trainers, the
#   full-corpus k-means and PQ profiles reading the trained artifacts,
#   the `_km_assign` empty-centroid guard (the similarity module's
#   queries), and the streaming gates reading `events` through the
#   registry handle.
# - the eight bench queries, planned from SQL text; the queries that
#   call `dec_sum`, which now takes and returns SQL text; the two skew
#   guards sized from the footer row count (`row_count`); every table
#   read: a known schema, and single-row-group sources read as one
#   split file per core.
# - earlier in the round: one label-propagation loop for the four
#   connected-components consumers, the drift audits reading their
#   trained artifact, the SemDeDup keep rule, the sensor fan-out
#   helper, the tag-policy consumers (staged SQL text),
#   transform_products_silver (P18 map lookup), the pipeline sinks, the
#   six PQ code-store serves and the IVF seed-centroid helper.
_PRIORITY: tuple[str, ...] = (
    # regenerate with `python scripts/changed_queries.py` after any
    # helper edit
    "embedding_topk",
    "embedding_neighbors",
    "streaming_dim_enrichment",
    "pq_codebook_drift_audit",
    "coarse_centroid_drift_audit",
    "semantic_dedup_clusters",
    "semantic_dedup_incremental",
    "pq_codes_serving",
    "ivf_pq_codes_serving",
    "pq_codes_append_serving",
    "pq_trained_codes_serving",
    "ivf_pq_codes_append_serving",
    "ivf_pq_trained_store_serving",
    "embedding_ivf_topk",
    "ivf_pq_topk",
    "ivf_recall_report",
    "embedding_kmeans_clusters",
    "ivf_kmeans_topk",
    "embedding_lsh_buckets",
    "mmr_diversified_topk",
    "embedding_norm_stats",
    "embedding_sq8_profile",
    "embedding_pq_profile",
    "pq_adc_topk",
    "pq_adc_rerank_topk",
    "pq_adc_recall_report",
    "pq_trained_profile",
    "pq_sample_train_profile",
    "batch_semantic_topk",
    "incremental_topk_refresh",
    "streaming_hourly_rollup_multibatch",
    "streaming_hopping_rollup_multibatch",
    "streaming_event_dedup_multibatch",
    "streaming_stateful_tracker_multibatch",
    "streaming_interval_join_multibatch",
    "streaming_left_interval_join_multibatch",
    "streaming_hourly_rollup",
    "streaming_event_dedup",
    "streaming_hopping_rollup",
    "streaming_session_windows",
    "streaming_interval_join",
    "pricing_summary",
    "category_summary",
    "customer_revenue_topk",
    "hourly_event_rollup",
    "doc_text_stats",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "lookup_join_rollup",
    "global_stats",
    "value_histogram",
    "region_nation_rollup",
    "priority_status_cube",
    "salted_segment_rollup",
    "customer_revenue_deciles",
    "priority_status_grouping_sets",
    "revenue_decile_scalable",
    "dedup_clusters",
    "dedup_clusters_largestar",
    "dedup_retention_report",
    "cluster_aware_split",
    "sensor_tag_fanout",
    "sensor_raw_roundtrip",
    "pipeline_end_to_end",
    "tag_policy_results",
    "tag_policy_suppressed_audit",
    "composition_merge_final",
    "custom_vocab_merge",
    "transform_products_silver",
    "sink_merge_state",
    "curation_event_state",
    "json_store_roundtrip",
    "sensor_response_parse",
    "price_text_parse",
    "language_id_confusion",
    "word_topk",
    "doc_fingerprint",
    "quality_percentile_gate",
    "doc_repetition_stats",
    "bigram_collocations",
    "bm25_keyword_topk",
    "cms_word_topk_estimate",
    "vocab_typo_pairs",
    "gopher_rule_funnel",
    "tfidf_top_terms",
    "source_overlap_matrix",
    "weekly_distinct_sketch_union",
    "variant_fanout",
    "scalar_function_pack",
    "rrf_hybrid_search",
    "doc_chunking",
    "chunk_dup_stats",
    "corpus_head_share",
    "sequence_packing",
    "snapshot_incremental_dedup",
    "span_dedup_rebuild",
    "bigram_lm_scores",
    "token_budget_allocation",
    "quota_downsample",
    "mixture_temperature_weights",
    "scan_filter_topn",
    "anti_join_untracked",
    "semi_join_tracked",
    "rep_variant_per_group",
    "latest_event_per_user",
    "status_ratio_summary",
    "priority_ordinal_distribution",
    "multi_order_customers",
    "priority_churn",
    "brand_type_vocabulary",
    "segment_top_orders",
    "cheapest_supplier_per_part",
    "sketch_profile",
    "order_status_melt",
    "order_price_mad_outliers",
    "value_equidepth_histogram",
    "order_fulfillment_latency",
    "supplier_concentration_hhi",
    "part_velocity_share",
    "nation_trade_flows",
    "customer_cohort_setops",
    "priority_price_rank_families",
    "customer_order_delta_fulljoin",
    "incremental_view_maintenance",
    "segment_distinct_users_sketch",
    "token_cost_by_source",
    "stratified_sample",
    "bpe_token_counts",
    "contamination_check",
    "documents_profile",
    "exact_dedup",
    "simhash_fingerprints",
    "simhash_near_pairs",
    "lsh_recall_report",
    "lsh_threshold_calibration",
    "user_sessionization",
    "freshness_decay",
    "refresh_queue_priorities",
    "props_json_rollup",
    "asof_click_before_purchase",
    "range_join_bursts",
    "daily_revenue_moving",
    "rollup_cascade",
    "funnel_conversion",
    "cohort_retention",
    "weekly_revenue_growth",
    "props_variant_rollup",
    "user_state_intervals",
    "first_touch_attribution",
    "event_gap_detection",
    "dau_wau_stickiness",
    "rolling_3h_event_counts",
    "event_debounce",
    "point_in_time_join",
    "semantic_search_topk",
    "rag_context_assembly",
    "media_inventory",
    "media_byte_features",
    "frame_sample_schedule",
    "media_thumbnail_resize",
    "media_audio_features",
    "media_video_metadata",
    "media_video_frames",
    "media_exact_dedup",
    "media_jpeg_decode",
    "media_jpeg_color_decode",
    "media_webp_metadata",
    "media_gif_metadata",
    "training_export_scale",
    "compaction_plan",
    "zorder_layout_plan",
    "zorder_skipping_report",
    "dq_expectations",
    "bucketed_join_rollup",
    "embedding_int8_quant",
)


def _rerank() -> None:
    missing = [n for n in _PRIORITY if n not in ALL_QUERIES]
    if missing:
        raise ValueError(f"_PRIORITY names not registered: {missing}")
    ordered = {n: ALL_QUERIES[n] for n in _PRIORITY}
    for n, q in ALL_QUERIES.items():
        ordered.setdefault(n, q)
    ALL_QUERIES.clear()
    ALL_QUERIES.update(ordered)


_rerank()

__all__ = ["ALL_QUERIES", "Query", "query"]
