"""Query registry — importing this package registers every named query.

``REGISTRY`` maps name -> QueryDef(fn, oracle); ``__spark_entry__`` exposes
it through the driver contract (queries() / oracle_sql()).
"""

from corsearch_project_spark.queries.base import REGISTRY, QueryDef  # noqa: F401
from corsearch_project_spark.queries import relational  # noqa: F401
from corsearch_project_spark.queries import textsim  # noqa: F401
from corsearch_project_spark.queries import extensions  # noqa: F401
from corsearch_project_spark.queries import analytics  # noqa: F401
from corsearch_project_spark.queries import training  # noqa: F401
from corsearch_project_spark.queries import structured  # noqa: F401
from corsearch_project_spark.queries import webqa  # noqa: F401
from corsearch_project_spark.queries import curation  # noqa: F401


# The driver sweep caps at ~50 queries per round while the registry holds
# 153, so coverage rotates on one rule: queries with NO driver-green row
# in ANY CORRECTNESS_r{N}.json surface first; once every never-green
# query fits inside the window, the remaining slots backfill with the
# queries whose last driver-green row is OLDEST (stalest evidence first).
# Recomputed after CORRECTNESS_r05.json landed: q_approx_distinct is the
# only never-green query (no oracle by design, so every round records its
# rows-only row), then the r2 and r3 stragglers fill the window; within a
# round the previous order is kept. Enforced by tests/test_sweep_order.py
# against the committed CORRECTNESS_r*.json artifacts.
_SWEEP_FIRST = [
    # never driver-green: rows-only rows (no oracle by design)
    "q_approx_distinct",
    # rows last driver-green in r2
    "q_sim_lsh_ann", "q_sim_lsh_multiprobe", "q_dedup_embed_lsh",
    "q_text_tokens",
    # rows last driver-green in r3
    "q_pricing_summary", "q_project_filter", "q_predicates",
    "q_like_regexp", "q_join_broadcast", "q_join_smj", "q_join_semi",
    "q_join_anti", "q_join_range", "q_join_asof", "q_join_cross",
    "q_agg_distinct", "q_agg_rollup", "q_agg_stats", "q_agg_string",
    "q_percentile", "q_window_rownum", "q_window_lag", "q_window_frame",
    "q_window_ntile", "q_window_lastnn", "q_sort_topk", "q_set_intersect",
    "q_set_except", "q_set_union", "q_string_fns", "q_date_fns",
    "q_text_quality", "q_text_langid", "q_text_fingerprint",
    "q_sim_ivf_ann", "q_dedup_components", "q_text_repetition",
    "q_url_canonical", "q_map_fns", "q_udf_scalar_pandas",
    "q_udaf_grouped_pandas", "q_udtf_explode", "q_udf_grouped_map",
    "q_multimodal_meta", "q_shipping_priority", "q_local_supplier_volume",
    "q_returned_items", "q_top_parts_by_size", "q_volume_shipping",
]

# Queries outside the 50-slot window, stalest evidence first, so any
# widening of the driver cap refreshes the oldest rows next.
_SWEEP_OVERFLOW = [
    # rows last driver-green in r3
    "q_market_share", "q_sample_hash_split", "q_pack_sequences",
    "q_ngram_topk",
    # rows last driver-green in r4
    "q_multimodal_png", "q_multimodal_wav", "q_manifest_lookup",
    "q_schema_evolution", "q_multimodal_mp4", "q_image_neardup",
    "q_boilerplate_lines", "q_pii_scrub", "q_decontaminate",
    "q_link_hostgraph", "q_link_pagerank", "q_dedup_canonical",
    "q_quality_classifier", "q_dedup_substring", "q_crawl_frontier",
    "q_robots_politeness", "q_page_metadata", "q_canonical_groups",
    "q_search_conjunctive", "q_fetch_plan", "q_anchor_text",
    "q_lang_mismatch", "q_hreflang_reciprocity", "q_template_census",
    "q_search_snippets", "q_search_bm25", "q_link_hits",
    "q_resolve_redirects", "q_url_surt", "q_recrawl_schedule",
    "q_domain_quality", "q_mixture_sample", "q_domain_cap", "q_meta_robots",
    "q_snapshot_diff", "q_token_rarity", "q_crawl_traps", "q_link_spam",
    "q_bpe_merges", "q_kmeans_cells", "q_semdedup", "q_jsonld_types",
    "q_nofollow_edges", "q_html_tables", "q_mojibake", "q_soft404",
    "q_image_assets", "q_publish_dates", "q_mirror_hosts", "q_blocklist",
    # rows driver-green in r5 (freshest evidence — sweep last)
    "q_pdf_tables", "q_docx_tables", "q_readability", "q_embed_pca",
    "q_char_entropy", "q_change_rate", "q_host_scorecard", "q_html_outline",
    "q_filter_cascade", "q_lm_perplexity", "q_bitext_mine",
    "q_dsir_weights", "q_cdc_chunks", "q_hll_distinct", "q_winnow_spans",
    "q_feed_discovery", "q_feed_entries", "q_token_drift", "q_length_hist",
    "q_zorder_key", "q_search_phrase", "q_search_proximity",
    "q_more_like_this", "q_bpe_census", "q_bpe_fertility",
    "q_cms_heavy_hitters", "q_bloom_membership", "q_passage_chunks",
    "q_pagination_chains", "q_script_census", "q_bitext_mine_lsh",
    "q_math_fns", "q_array_fns", "q_json_fns", "q_cond_fns",
    "q_window_tumbling", "q_window_sliding", "q_session_window",
    "q_agg_cube", "q_set_exceptall", "q_window_percentrank",
    "q_dedupe_latest_agg", "q_join_interval", "q_dedup_exact",
    "q_dedup_jaccard", "q_dedup_minhash_lsh", "q_dedup_simhash",
    "q_dedup_embed", "q_sim_topk",
]


def _ordered():
    first = [n for n in _SWEEP_FIRST if n in REGISTRY]
    overflow = [n for n in _SWEEP_OVERFLOW if n in REGISTRY]
    queued = set(first) | set(overflow)
    rest = [n for n in REGISTRY if n not in queued]
    return first + overflow + rest


def spark_queries():
    return {name: REGISTRY[name].fn for name in _ordered()}


def oracle_queries():
    return {
        name: REGISTRY[name].oracle
        for name in _ordered()
        if REGISTRY[name].oracle is not None
    }
