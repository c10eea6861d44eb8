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
# closure (shared-helper edits propagated). This change set has 73
# members, more than the window holds: the queries whose plans this
# change alters lead, and the window is saturated with the rest, which
# the tool dirties conservatively. The dynamic containment test
# (tests/test_round5_plan_shapes.py) re-derives the changed set on
# every pytest run and asserts the window is saturated with it.
# Changed-set provenance (oracles byte-unchanged):
# - the four connected-components consumers: one label-propagation
#   loop, a pointer-jumping step for dedup_clusters_largestar, a
#   2-column round checkpoint; both drift audits read their trained
#   artifact without building a code store; both SemDeDup queries share
#   one keep-rule helper; the sensor queries and pipeline_end_to_end
#   share one representative/fan-out helper (plans unchanged), and an
#   empty batch into an empty store creates the tables.
# - earlier in the round: the four tag-policy consumers (staged SQL
#   text), transform_products_silver (P18 map lookup), the pipeline
#   sinks (silver materialized once, new-table upserts, merged JSON
#   store), the six PQ code-store serves (one spec-keyed store
#   builder), the IVF queries' seed-centroid helper, and neighbours
#   dirtied by module-level edits.
_PRIORITY: tuple[str, ...] = (
    # regenerate with `python scripts/changed_queries.py` after any
    # helper edit
    "dedup_clusters",
    "dedup_clusters_largestar",
    "dedup_retention_report",
    "cluster_aware_split",
    "pq_codebook_drift_audit",
    "coarse_centroid_drift_audit",
    "semantic_dedup_clusters",
    "semantic_dedup_incremental",
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
    "price_text_parse",
    "doc_text_stats",
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
    "embedding_topk",
    "embedding_neighbors",
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
