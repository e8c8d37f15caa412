"""Workload definitions: query lists and the ETL mix."""

from __future__ import annotations

# Relational, statistics and layout headline queries (execution-heavy;
# the streaming-shaped q80/q82/q84 run in batch form).
RELATIONAL = (
    "q01_flagship_revenue_by_region_year",
    "q04_groupby_agg_pricing_summary",
    "q05_rollup_totals",
    "q09_join_left_outer",
    "q13_join_range_inequality",
    "q16_window_topk_per_group",
    "q18_global_topk",
    "q22_pivot_revenue_by_status",
    "q26_salted_join_equivalence",
    "q30_string_functions",
    "q40_json_extraction",
    "q80_events_hourly_tumbling",
    "q82_events_sessionization",
    "q84_asof_join_purchase_signup",
    "q247_ohlc_daily_candles",
    "q288_dictionary_encoding_benefit",
    "q296_ab_chisquare_conversion",
    "q312_zorder_skipping_benefit",
    "q331_conformal_coverage",
    "q438_variant_json_extraction",
    "q452_bitmap_exact_distinct",
)

# LLM-data headline queries (eager checkpoints in q154/q226/q250 make
# them build-heavy; q68/q75/q154 carry the Arrow/NumPy kernels).
LLM_OPS = (
    "q60_dedup_exact_text",
    "q63_text_quality_score",
    "q68_minhash_near_duplicates",
    "q70_ngram_jaccard_pairs",
    "q71_cosine_topk_bruteforce",
    "q75_embedding_near_dup_lsh",
    "q77_training_data_prep_pipeline",
    "q154_semdedup_semantic_dedup",
    "q226_dup_graph_pagerank",
    "q235_bm25_retrieval",
    "q250_connected_components_minlabel",
)

QUERY_WORKLOADS = {"relational_sf0.1": RELATIONAL, "llm_ops_sf0.1": LLM_OPS}
ETL_WORKLOAD = "etl_twse"
WORKLOADS = (*QUERY_WORKLOADS, ETL_WORKLOAD)
SF = 0.1
