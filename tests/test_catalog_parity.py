"""Differential tests: every SQL-expressible catalog query must match the
DuckDB oracle (row count + schema + order-insensitive value hash) — the same
check the driver's correctness gate runs, executed at sf0.001 for speed.
"""

from __future__ import annotations

import pytest

from lakehouse_spark import oracle
from lakehouse_spark.queries import CATALOG

from tests.conftest import SF_SMALL

_NAMES = list(CATALOG)


@pytest.fixture(scope="module")
def duck(spark):
    return oracle.duckdb_connect(SF_SMALL)


@pytest.mark.parametrize("name", _NAMES)
def test_catalog_query_matches_oracle(spark, duck, name):
    spec = CATALOG[name]
    if spec.oracle is None:
        # rows-only check: must run and be non-degenerate
        df = spec.build(spark, SF_SMALL)
        assert df.count() >= 0
        return
    res = oracle.compare(name, spec.build(spark, SF_SMALL), duck, spec.oracle)
    assert res.schema_match, f"{name}: {res.spark_cols} != {res.oracle_cols}"
    assert res.spark_rows == res.oracle_rows, f"{name}: row count mismatch"
    assert res.hash_match, f"{name}: value hash mismatch"


def test_catalog_covers_headline_suite():
    assert sum(s.headline for s in CATALOG.values()) >= 5


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(CATALOG)


def test_driver_correctness_names_are_stable():
    """The driver's CORRECTNESS scoreboard keys on these exact entry names
    (the round-1 set). Renaming any of them silently drops the entry from
    the official gate — fail here instead."""
    DRIVER_SET = {
        "a1_group_count", "a2_running_counters", "a3_metrics_argmax",
        "a5_collect_per_group", "a6_duplicate_keys", "agg_distinct_count",
        "d1_exact_dedup", "d2_first_wins", "d3_union_dedup",
        "dedup_embedding_cosine", "dedup_minhash_lsh", "dedup_ngram_jaccard",
        "dedup_simhash", "f1_and_equality_filter", "f2_time_range",
        "f4_prefix_filter", "f5_ci_prefix", "flagship_pricing_summary",
        "j1_semi_join_fetch", "j2_parent_child_self_join",
        "j3_recursive_descendants", "j5_fk_lookup_chain", "j6_history_topk",
        "j7_union_resort", "j9_nearest_ancestor", "o1_top_n",
        "o2_offset_page", "o4_tail_per_group", "o5_completion_sort",
        "rollup_time_buckets", "s1_sessionize_flat", "s3_truncation",
        "sim_ivf_topk", "sim_topk_bruteforce", "skew_salted_agg",
        "t17_json_extract", "t1_mention_tokens", "t4_sha256",
        "t7_month_format", "t8_date_arithmetic", "text_fingerprint",
        "text_langid", "text_quality", "text_tokens",
        "tpch_q14_promo_revenue", "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume", "w1_turn_numbering",
        "w2_pre_post_pairing", "w3_lag_gaps",
    }
    missing = DRIVER_SET - set(CATALOG)
    assert not missing, f"driver-scoreboard entries renamed/removed: {missing}"


def test_sketch_aggregates_track_exact_within_bounds(spark):
    """agg_sketches is approximate by design. Since round 12 the entry is
    SELF-CHECKING (oracle-hashable): it emits the exact per-group answers
    plus booleans pinning each sketch to its bound (HLL within 3x the
    default 5% rsd, the quantile sketch's p50 inside the exact p45..p55
    band). Pin the exact values against an independent computation and
    assert every bound boolean holds."""
    from pyspark.sql import functions as F

    from lakehouse_spark.io import load_table

    sf = SF_SMALL
    li = load_table(spark, sf, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.countDistinct("l_suppkey").alias("supps"),
        )
        .collect()
    }
    got = {
        r.l_returnflag: r
        for r in CATALOG["agg_sketches"].build(spark, sf).collect()
    }
    assert set(got) == set(exact)
    for flag, a in got.items():
        e = exact[flag]
        assert a.exact_parts == e.parts, flag
        assert a.exact_supps == e.supps, flag
        assert a.parts_in_bound and a.supps_in_bound, flag
        assert a.p50_in_band, flag


# Name-set snapshot from round 4: correctness records key on entry names
# across rounds — additions are fine, but renaming or deleting any of these
# silently drops it from the correctness scoreboard. If a rename is truly
# intended, update this snapshot in the same commit.
ROUND4_NAMES = {
    "a10_user_growth",
    "a11_user_type_entropy",
    "a1_group_count",
    "a2_running_counters",
    "a3_metrics_argmax",
    "a4_page_envelope",
    "a5_collect_per_group",
    "a6_duplicate_keys",
    "a8_cohort_retention",
    "a9_event_funnel",
    "agg_correlation",
    "agg_cube_revenue",
    "agg_distinct_count",
    "agg_gini",
    "agg_grouping_sets",
    "agg_hhi_concentration",
    "agg_histogram",
    "agg_mad_robust",
    "agg_mode",
    "agg_outlier_zscore",
    "agg_percentiles",
    "agg_pivot_status",
    "agg_rollup_revenue",
    "agg_sketches",
    "agg_skew_kurtosis",
    "agg_unpivot_stack",
    "agg_weighted_median",
    "cr1_due_set",
    "cron_next_fire",
    "curation_contamination_matrix",
    "curation_decontaminate",
    "curation_decontaminate_bloom",
    "curation_quality_resample",
    "curation_source_mix",
    "curation_stratified_sample",
    "curation_train_split",
    "curation_url_normalize",
    "curation_weighted_sample",
    "d1_exact_dedup",
    "d2_first_wins",
    "d3_union_dedup",
    "d4_visited_anti_join",
    "d5_except_intersect",
    "dedup_cluster_components",
    "dedup_cluster_incremental",
    "dedup_embedding_cosine",
    "dedup_embedding_rplsh",
    "dedup_fuzzy_levenshtein",
    "dedup_minhash_incoming",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_spans_firstwins",
    "doc_chunks_overlap",
    "doc_repetition_score",
    "emb_quantize_int8",
    "f10_set_membership",
    "f11_safe_paths",
    "f1_and_equality_filter",
    "f2_time_range",
    "f3_boolean_flag",
    "f4_prefix_filter",
    "f5_ci_prefix",
    "f6_hidden_exclusion",
    "f7_status_filter",
    "f8_projection",
    "flagship_pricing_summary",
    "graph_pagerank",
    "graph_triangles",
    "j1_semi_join_fetch",
    "j2_parent_child_self_join",
    "j3_clone_remap",
    "j3_recursive_descendants",
    "j5_fk_lookup_chain",
    "j6_history_topk",
    "j7_union_resort",
    "j9_nearest_ancestor",
    "j_asof_attribution",
    "j_interval_overlap",
    "j_null_safe_join",
    "j_range_window_count",
    "layout_zorder_key",
    "meta_table_counts",
    "mm_feature_extract",
    "mm_frame_sample",
    "mm_frame_sample_plan",
    "mm_resize",
    "mm_resize_plan",
    "o10_ntile_quartiles",
    "o11_keyset_page",
    "o1_top_n",
    "o2_offset_page",
    "o4_tail_per_group",
    "o5_completion_sort",
    "o6_limit_pushdown",
    "o7_global_sort",
    "pack_training_sequences",
    "pii_redaction",
    "pii_redaction_extended",
    "pipeline_curation",
    "profile_documents",
    "rollup_gapfill_daily",
    "rollup_hierarchy",
    "rollup_hopping_windows",
    "rollup_interpolate",
    "rollup_time_buckets",
    "s1_sessionize_flat",
    "s2_duration",
    "s3_truncation",
    "s4_iso_millis",
    "s8_gap_sessions",
    "s9_bounce_rate",
    "sc1_jsonl_roundtrip",
    "search_hybrid_rrf",
    "search_keyword_and",
    "sim_ivf_topk",
    "sim_ivfpq_topk",
    "sim_pq_rerank_topk",
    "sim_pq_topk",
    "sim_topk_bruteforce",
    "sim_topk_filtered",
    "skew_salted_agg",
    "skew_salted_join",
    "t11_clock_conversion",
    "t12_id_generation",
    "t13_path_functions",
    "t14_nested_access",
    "t17_json_extract",
    "t19_variant_semistructured",
    "t1_mention_tokens",
    "t20_sql_named_params",
    "t21_try_arithmetic",
    "t2_mention_normalize",
    "t3_quote_decision",
    "t4_sha256",
    "t5_case_functions",
    "t7_month_format",
    "t8_date_arithmetic",
    "t9_interval_parse",
    "text_bigram_logprob",
    "text_char_entropy",
    "text_fingerprint",
    "text_gopher_rules",
    "text_langid",
    "text_quality",
    "text_tfidf_top_term",
    "text_tokens",
    "text_top_words",
    "text_unigram_logprob",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_priority_buckets",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_cnt",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_or_predicates",
    "tpch_q20_part_promotion",
    "tpch_q21_waiting_supplier",
    "tpch_q22_global_sales_opportunity",
    "tpch_q2_min_cost_part",
    "tpch_q3_shipping_priority",
    "tpch_q4_priority_exists",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_nation_trade",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "trace_turn_counts",
    "w1_turn_numbering",
    "w2_pre_post_pairing",
    "w3_lag_gaps",
    "w4_running_share",
    "w5_transition_matrix",
    "w6_wow_change",
    "w7_rolling_7day",
    "w8_session_conversion",
}


def test_round4_names_all_present():
    missing = ROUND4_NAMES - set(CATALOG)
    assert not missing, f"renamed/deleted catalog entries: {sorted(missing)}"
