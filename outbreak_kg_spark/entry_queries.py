"""The query registry: one ``Query`` row per entry, in driver order.

Each entry is a ``(spark, sf_dir) -> DataFrame`` callable plus an exact
DuckDB oracle SQL over the same parquet tables. The callables and oracles
live in per-family modules (``entry_kg``, ``entry_kg_maint``,
``entry_text``, ``entry_dedup``, ``entry_web``, ``entry_graph``,
``entry_sample``, ``entry_table``) over the shared ``entry_fixtures``.
An entry's name is its function's name without the ``q_`` prefix.

Cross-engine determinism rules used throughout:
- hashing is md5-based (identical in Spark and DuckDB);
- money math is integer-cents (exact) with one final double division;
- float outputs that accumulate in engine-specific order are rounded;
- every LIMIT has a total-order tie-break.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from . import entry_dedup as dd
from . import entry_graph as graph
from . import entry_kg as kg
from . import entry_kg_maint as kgm
from . import entry_sample as sample
from . import entry_table as table
from . import entry_text as text
from . import entry_web as web
from .entry_fixtures import _SQL_MENTIONS


class Query(NamedTuple):
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str
    driver: bool
    headline: bool  # timed by bench.py, bench_extra.py, scripts/dump_plans.py


def driver(fn, oracle: str, headline: bool = False) -> Query:
    """A row in the driver window: the driver hashes only the first 50
    keys of all_queries(), so every driver row precedes every extra."""
    return Query(fn.__name__.removeprefix("q_"), fn, oracle, True, headline)


def extra(fn, oracle: str, headline: bool = False) -> Query:
    """A row past the driver window; tests/test_entry_oracles.py runs the
    identical oracle gate on it."""
    return Query(fn.__name__.removeprefix("q_"), fn, oracle, False, headline)


REGISTRY = (
    driver(kg.q_kg_extract_text, kg.SQL_KG_EXTRACT_TEXT, headline=True),
    driver(kg.q_kg_ner_mentions, _SQL_MENTIONS, headline=True),
    driver(kg.q_kg_ground_names, kg.SQL_KG_GROUND_NAMES),
    driver(kg.q_kg_tsv_node_rows, kg.ORACLE_KG_TSV_NODE_ROWS),
    driver(kg.q_kg_query_indicators, kg.ORACLE_KG_QUERY_INDICATORS),
    driver(kg.q_kg_direct_relations, kg.SQL_KG_DIRECT_RELATIONS),
    driver(kgm.q_canonicalize_assignments, kgm.SQL_CANONICALIZE),
    driver(text.q_corpus_curate, text._sql_corpus_curate(), headline=True),
    driver(kgm.q_kg_edge_merge, kgm.SQL_KG_EDGE_MERGE, headline=True),
    # exhaustive-probe IVF == brute force, so it shares the oracle
    driver(dd.q_similarity_ivf_topk, dd.SQL_COSINE_TOPK),
    driver(dd.q_similarity_neardup_lsh, dd._sql_neardup_lsh()),
    driver(table.q_events_rollup, table.SQL_EVENTS_ROLLUP),
    driver(table.q_events_sessionize, table.SQL_EVENTS_SESSIONIZE),
    driver(table.q_multimodal_frame_plan, table.SQL_MULTIMODAL_FRAME_PLAN),
    driver(table.q_multimodal_image_bytes, table.SQL_MULTIMODAL_IMAGE_BYTES),
    driver(kg.q_kg_terms_per_doc, kg.ORACLE_KG_TERMS_PER_DOC),
    driver(kg.q_kg_mention_pairs, kg.SQL_KG_MENTION_PAIRS, headline=True),
    driver(kg.q_kg_interesting_pairs, kg.SQL_KG_INTERESTING_PAIRS),
    driver(kg.q_kg_isa_closure, kg.SQL_KG_ISA_CLOSURE, headline=True),
    driver(kg.q_kg_query_graph, kg.SQL_KG_QUERY_GRAPH, headline=True),
    driver(kg.q_kg_predicate_rename, kg.SQL_KG_PREDICATE_RENAME),
    driver(kg.q_kg_top_alerts, kg.SQL_KG_TOP_ALERTS),
    driver(kg.q_kg_first_timestamp_lookup, kg.SQL_KG_FIRST_TIMESTAMP),
    driver(kg.q_kg_realism_logsumexp, kg.SQL_KG_REALISM_LSE, headline=True),
    driver(kg.q_kg_literature_contingency, kg.SQL_KG_LIT_CONTINGENCY),
    driver(kg.q_kg_literature_pvalues, kg._sql_lit_pvalues()),
    driver(kg.q_kg_autocomplete, kg.SQL_KG_AUTOCOMPLETE),
    driver(kg.q_kg_xref_join, kg.ORACLE_KG_XREF_JOIN),
    driver(kg.q_kg_mixed_path, kg._sql_mixed_path()),
    driver(kg.q_kg_typed_subtree, kg.ORACLE_KG_TYPED_SUBTREE),
    driver(kg.q_kg_pattern_triples, kg._sql_pattern_triples(), headline=True),
    driver(table.q_join_star_topk, table.SQL_JOIN_STAR_TOPK, headline=True),
    driver(table.q_set_ops, table.SQL_SET_OPS),
    driver(table.q_window_first_event, table.SQL_WINDOW_FIRST, headline=True),
    driver(table.q_year_month_map, table.SQL_YEAR_MONTH_MAP),
    driver(text.q_stats_token_counts, text.SQL_STATS_TOKENS),
    driver(kgm.q_eidos_context, kgm.SQL_EIDOS_CONTEXT),
    driver(table.q_streaming_episodes, table.SQL_STREAMING_EPISODES),
    driver(dd.q_dedup_simhash, dd._sql_simhash(16)),
    driver(dd.q_dedup_lsh_candidates,
           dd.SQL_DEDUP_LSH_CANDIDATES, headline=True),
    driver(dd.q_dedup_contamination, dd.SQL_DEDUP_CONTAMINATION),
    driver(graph.q_graph_components, graph.SQL_GRAPH_COMPONENTS),
    driver(dd.q_ngram_jaccard, dd.SQL_NGRAM_JACCARD),
    driver(dd.q_similarity_cosine_topk, dd.SQL_COSINE_TOPK, headline=True),
    driver(dd.q_similarity_ann_topk, dd._sql_ann_topk()),
    driver(text.q_text_signals, text._sql_text_signals(), headline=True),
    driver(text.q_text_filters, text._sql_text_filters(), headline=True),
    driver(table.q_asof_join_events, table.SQL_ASOF_JOIN_EVENTS),
    driver(table.q_range_join_events, table.SQL_RANGE_JOIN_EVENTS),
    driver(table.q_join_name_coalesce, table.SQL_JOIN_NAME_COALESCE),
    extra(dd.q_dedup_exact, dd.SQL_DEDUP_EXACT),
    extra(kg.q_kg_mention_pairs_grouped, kg.SQL_KG_MENTION_PAIRS),
    extra(kg.q_kg_cooccur_scores, kg.SQL_KG_COOCCUR_SCORES),
    extra(kg.q_kg_literature_candidates, kg.SQL_KG_LIT_CANDIDATES),
    extra(kg.q_kg_coverage_metrics, kg.ORACLE_KG_COVERAGE_METRICS),
    extra(table.q_json_extract_props, table.SQL_JSON_EXTRACT),
    extra(dd.q_dedup_minhash_sigs, dd.SQL_DEDUP_MINHASH),
    extra(dd.q_similarity_neardup, dd.SQL_SIM_NEARDUP),
    extra(text.q_text_lang_id, text._sql_lang_id()),
    extra(text.q_text_token_counts, text.SQL_TEXT_TOKEN_COUNTS),
    extra(text.q_text_fingerprints, text.SQL_TEXT_FINGERPRINTS),
    extra(text.q_text_quality, text._sql_text_quality()),
    extra(sample.q_sample_split_counts, sample._sql_sample_split()),
    extra(sample.q_sample_stratified, sample._sql_sample_stratified()),
    extra(sample.q_sample_shards, sample._sql_sample_shards()),
    extra(sample.q_sample_pack_offsets,
          sample._sql_sample_pack_offsets(), headline=True),
    extra(sample.q_sample_pack_spans, sample._sql_sample_pack_spans()),
    extra(web.q_web_url_canonical,
          web._sql_web_url_canonical(), headline=True),
    extra(web.q_web_domain_mixture, web._sql_web_domain_mixture()),
    extra(web.q_web_crawl_delta, web.SQL_WEB_CRAWL_DELTA, headline=True),
    extra(graph.q_graph_pagerank, graph._sql_graph_pagerank()),
    extra(web.q_web_html_extract, web._sql_web_html_extract(), headline=True),
    extra(web.q_web_line_dedup, web._sql_web_line_dedup(), headline=True),
    extra(text.q_text_quality_classifier,
          text._sql_text_quality_classifier(), headline=True),
    extra(web.q_web_link_graph, web._sql_web_link_graph(), headline=True),
    extra(web.q_web_robots_filter, web._sql_web_robots_filter()),
    extra(text.q_text_tfidf_topk, text._sql_text_tfidf_topk()),
    extra(kgm.q_kg_negative_samples, kgm._sql_kg_negative_samples()),
    extra(text.q_text_passage_dedup,
          text._sql_text_passage_dedup(), headline=True),
    extra(text.q_corpus_length_profile,
          text._sql_corpus_length_profile(), headline=True),
    extra(text.q_retrieval_bm25_topk,
          text._sql_retrieval_bm25_topk(), headline=True),
    extra(sample.q_sample_chunks, sample._sql_sample_chunks(), headline=True),
    extra(sample.q_sample_temperature,
          sample._sql_sample_temperature(), headline=True),
    extra(graph.q_graph_triangles,
          graph._sql_graph_triangles(), headline=True),
    extra(text.q_corpus_cardinality, text.SQL_CORPUS_CARDINALITY),
    extra(text.q_retrieval_rrf_fuse,
          text._sql_retrieval_rrf_fuse(), headline=True),
    extra(dd.q_dedup_incremental_lsh,
          dd.SQL_DEDUP_INCREMENTAL_LSH, headline=True),
    extra(graph.q_graph_labelprop,
          graph._sql_graph_labelprop(), headline=True),
    extra(graph.q_graph_kcore, graph._sql_graph_kcore(), headline=True),
    extra(dd.q_similarity_rp_project,
          dd._sql_similarity_rp_project(), headline=True),
    extra(dd.q_similarity_quantized_topk,
          dd.SQL_QUANTIZED_TOPK, headline=True),
    extra(table.q_multimodal_audio_windows,
          table.SQL_MULTIMODAL_AUDIO_WINDOWS, headline=True),
    extra(kg.q_kg_triple_provenance,
          kg._sql_triple_provenance(), headline=True),
    extra(text.q_curate_representatives,
          text.SQL_CURATE_REPRESENTATIVES, headline=True),
    # not timed: its gate pins k=1 (brute-force pairs, the oracle twin); the
    # clustered scale path is gated in tests/test_dedup_similarity.py
    extra(dd.q_dedup_semantic, dd.SQL_DEDUP_SEMANTIC),
    extra(sample.q_sample_dsir_topk,
          sample._sql_sample_dsir_topk(), headline=True),
    extra(dd.q_dedup_substring_spans,
          dd._sql_dedup_substring_spans(), headline=True),
    extra(sample.q_sample_ccnet_buckets,
          sample._sql_sample_ccnet_buckets(), headline=True),
    extra(kgm.q_kg_scd2_history, kgm._sql_kg_scd2_history(), headline=True),
    extra(kgm.q_kg_batch_episodes,
          kgm._sql_kg_batch_episodes(), headline=True),
    extra(table.q_layout_zorder, table._sql_layout_zorder(), headline=True),
    extra(graph.q_graph_walks, graph._sql_graph_walks(), headline=True),
    extra(graph.q_graph_skipgram, graph._sql_graph_skipgram(), headline=True),
    extra(kgm.q_kg_hierarchy_rollup,
          kgm._sql_kg_hierarchy_rollup(), headline=True),
    extra(web.q_web_crawl_frontier,
          web._sql_web_crawl_frontier(), headline=True),
    extra(kgm.q_kg_attr_asof, kgm._sql_kg_attr_asof(), headline=True),
    extra(table.q_table_profile, table._sql_table_profile(), headline=True),
    extra(text.q_text_c4_clean, text._sql_text_c4_clean(), headline=True),
    extra(text.q_text_gopher_rules,
          text._sql_text_gopher_rules(), headline=True),
    extra(text.q_text_pii_luhn, text._sql_text_pii_luhn(), headline=True),
    extra(table.q_events_rolling_counts,
          table._sql_events_rolling_counts(), headline=True),
    extra(table.q_table_histogram,
          table._sql_table_histogram(), headline=True),
    extra(text.q_text_collocations,
          text._sql_text_collocations(), headline=True),
    extra(sample.q_sample_leakage_safe,
          sample._sql_sample_leakage_safe(), headline=True),
    extra(text.q_text_encoding_audit,
          text._sql_text_encoding_audit(), headline=True),
    extra(graph.q_graph_degree_profile,
          graph._sql_graph_degree_profile(), headline=True),
    extra(kgm.q_kg_edge_diff, kgm._sql_kg_edge_diff(), headline=True),
    extra(web.q_web_bloom_seen, web._sql_web_bloom_seen(), headline=True),
    extra(web.q_web_hll_cardinality,
          web._sql_web_hll_cardinality(), headline=True),
    extra(web.q_web_cms_counts, web._sql_web_cms_counts(), headline=True),
    extra(kgm.q_kg_key_skew, kgm._sql_kg_key_skew(), headline=True),
    extra(web.q_web_kmv_overlap, web._sql_web_kmv_overlap(), headline=True),
    extra(sample.q_sample_shard_balance,
          sample._sql_sample_shard_balance(), headline=True),
    extra(graph.q_graph_ppr, graph._sql_graph_ppr(), headline=True),
    extra(table.q_agg_pricing_summary, table.SQL_AGG_PRICING, headline=True),
)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in REGISTRY if q.driver}


def all_oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in REGISTRY if q.driver}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in REGISTRY if not q.driver}


def extra_oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in REGISTRY if not q.driver}


def headline() -> list[str]:
    return [q.name for q in REGISTRY if q.headline]
