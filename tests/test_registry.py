"""Contract of the query registry (entry_queries.REGISTRY): key order,
uniqueness, row shape and the oracle SQL text, pinned so a refactor of
the family modules cannot move, drop or rewrite an entry unnoticed."""

import hashlib

from outbreak_kg_spark import entry_queries
from outbreak_kg_spark.entry_queries import REGISTRY

# the driver hashes only the first 50 keys, in this order
DRIVER_KEYS = [
    "kg_extract_text", "kg_ner_mentions", "kg_ground_names",
    "kg_tsv_node_rows", "kg_query_indicators", "kg_direct_relations",
    "canonicalize_assignments", "corpus_curate", "kg_edge_merge",
    "similarity_ivf_topk", "similarity_neardup_lsh", "events_rollup",
    "events_sessionize", "multimodal_frame_plan", "multimodal_image_bytes",
    "kg_terms_per_doc", "kg_mention_pairs", "kg_interesting_pairs",
    "kg_isa_closure", "kg_query_graph", "kg_predicate_rename", "kg_top_alerts",
    "kg_first_timestamp_lookup", "kg_realism_logsumexp",
    "kg_literature_contingency", "kg_literature_pvalues", "kg_autocomplete",
    "kg_xref_join", "kg_mixed_path", "kg_typed_subtree", "kg_pattern_triples",
    "join_star_topk", "set_ops", "window_first_event", "year_month_map",
    "stats_token_counts", "eidos_context", "streaming_episodes",
    "dedup_simhash", "dedup_lsh_candidates", "dedup_contamination",
    "graph_components", "ngram_jaccard", "similarity_cosine_topk",
    "similarity_ann_topk", "text_signals", "text_filters", "asof_join_events",
    "range_join_events", "join_name_coalesce",
]
EXTRA_KEYS = [
    "dedup_exact", "kg_mention_pairs_grouped", "kg_cooccur_scores",
    "kg_literature_candidates", "kg_coverage_metrics", "json_extract_props",
    "dedup_minhash_sigs", "similarity_neardup", "text_lang_id",
    "text_token_counts", "text_fingerprints", "text_quality",
    "sample_split_counts", "sample_stratified", "sample_shards",
    "sample_pack_offsets", "sample_pack_spans", "web_url_canonical",
    "web_domain_mixture", "web_crawl_delta", "graph_pagerank",
    "web_html_extract", "web_line_dedup", "text_quality_classifier",
    "web_link_graph", "web_robots_filter", "text_tfidf_topk",
    "kg_negative_samples", "text_passage_dedup", "corpus_length_profile",
    "retrieval_bm25_topk", "sample_chunks", "sample_temperature",
    "graph_triangles", "corpus_cardinality", "retrieval_rrf_fuse",
    "dedup_incremental_lsh", "graph_labelprop", "graph_kcore",
    "similarity_rp_project", "similarity_quantized_topk",
    "multimodal_audio_windows", "kg_triple_provenance",
    "curate_representatives", "dedup_semantic", "sample_dsir_topk",
    "dedup_substring_spans", "sample_ccnet_buckets", "kg_scd2_history",
    "kg_batch_episodes", "layout_zorder", "graph_walks", "graph_skipgram",
    "kg_hierarchy_rollup", "web_crawl_frontier", "kg_attr_asof",
    "table_profile", "text_c4_clean", "text_gopher_rules", "text_pii_luhn",
    "events_rolling_counts", "table_histogram", "text_collocations",
    "sample_leakage_safe", "text_encoding_audit", "graph_degree_profile",
    "kg_edge_diff", "web_bloom_seen", "web_hll_cardinality", "web_cms_counts",
    "kg_key_skew", "web_kmv_overlap", "sample_shard_balance", "graph_ppr",
    "agg_pricing_summary",
]
ORACLE_SHA256 = (
    "cda4b60406e75f3c865fa368fe1332d2"
    "84290315f325dcad2cbd7e7dda3f7627"
)


def test_driver_rows_come_first_in_pinned_order():
    assert [q.name for q in REGISTRY[:50]] == DRIVER_KEYS
    assert all(q.driver for q in REGISTRY[:50])
    assert list(entry_queries.all_queries()) == DRIVER_KEYS
    assert list(entry_queries.all_oracle_sql()) == DRIVER_KEYS


def test_extra_rows_in_pinned_order():
    assert [q.name for q in REGISTRY[50:]] == EXTRA_KEYS
    assert not any(q.driver for q in REGISTRY[50:])
    assert list(entry_queries.extra_queries()) == EXTRA_KEYS
    assert list(entry_queries.extra_oracle_sql()) == EXTRA_KEYS


def test_names_are_unique():
    names = [q.name for q in REGISTRY]
    assert len(names) == len(set(names)) == 125


def test_every_row_has_a_callable_and_an_oracle():
    for q in REGISTRY:
        assert callable(q.fn), q.name
        assert isinstance(q.oracle, str) and q.oracle.strip(), q.name


def test_oracle_sql_text_is_unchanged():
    sql = {**entry_queries.all_oracle_sql(),
           **entry_queries.extra_oracle_sql()}
    digest = hashlib.sha256(repr(sorted(sql.items())).encode()).hexdigest()
    assert digest == ORACLE_SHA256

