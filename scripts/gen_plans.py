"""Regenerate PLANS.md — the human-readable physical-plan audit.

For each audited query: join strategies, exchange counts, aggregate
shape, and scan-pushdown evidence, extracted from the AQE final plan
at sf0.01. Plan *invariants* live in tests/test_plans.py; this file is
the narrative artifact the invariants point at.

Run: python scripts/gen_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import sys
from pathlib import Path

# Make `python scripts/<name>.py` work from anywhere: only scripts/ is
# on sys.path when invoked that way, so the repo root must be inserted.
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import re

AUDITED = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q4_order_priority",
    "q18_large_orders",
    "q7_nation_volume",
    "q8_market_share",
    "q10_returned_top_customers",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q21_sole_returner",
    "q22_rich_inactive",
    "lineitem_grouping_sets",
    "events_sessionize",
    "events_session_window",
    "events_asof_join",
    "events_range_join",
    "top_tokens_per_lang",
    "order_percentiles_approx",
    "events_cohort_retention",
    "lineitem_price_stats",
    "orders_value_histogram",
    "customer_value_cume_dist",
    "docs_training_mix",
    "docs_weighted_sample",
    "rs_pipeline_batch",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "ann_quantized_topk",
    "embedding_neardup",
    "q9_nation_profit",
    "q16_supplier_part_breadth",
    "q20_volume_suppliers",
    "decontaminate_ngram",
    "doc_repetition_score",
    "paragraph_dedup",
    "docs_seq_packing",
    "docs_clean_pack",
    "embedding_label_centroids",
    "lang_id_confusion",
    # round 3: the corpus-stats/clustering set + the TPC-H completions
    "tfidf_top_terms",
    "doc_char_entropy",
    "docs_chunk_overlap",
    "minhash_jaccard_estimate",
    "events_value_zscore",
    "embedding_kmeans_assign",
    "ann_ivf_trained",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_shipmode_priority",
    "doc_winnowing_fingerprint",
    "embedding_norm_stats",
    "docs_gopher_rules",
    "docs_gopher_by_source",
    "docs_unigram_perplexity",
    "docs_neardup_rate_by_source",
    "multimodal_audio_stats",
    "semantic_dedup_kmeans",
    "docs_bm25_score",
    "dsir_importance_weights",
    "dsir_resample_topk",
    "semdedup_cell_stats",
    "dsir_resample_stratified",
    "bm25_retrieval_topk",
    "rrf_fusion_topk",
    "ngram_counts_topk",
    "docs_bigram_perplexity",
    "docs_kl_by_source",
    "multimodal_video_frames",
    "minhash_containment",
    "events_anomaly_mad",
    "fusion_interp_topk",
    "token_freq_countmin",
    "docs_pretokenize_stats",
    "contrastive_pairs",
    "ann_pq_topk",
    "dedup_exact_substring",
    "cross_source_leakage",
    "curation_funnel",
    "docs_train_val_split",
    "docs_interp_perplexity",
    "docs_substring_novelty",
    "ann_opq_topk",
    "tfidf_retrieval_topk",
    "events_transition_matrix",
    "source_temperature_mix",
    "embedding_logreg_score",
    "corpus_zipf_fit",
    "embedding_random_projection",
    "docs_kn_perplexity",
    "decontaminate_bloom",
    "neardup_pagerank",
    "events_asof_forward",
    "dedup_agreement_matrix",
    "part_pair_lift",
    "dedup_cluster_sizes",
    "events_interarrival_stats",
    "discount_quantity_slope",
    "events_markov_stationary",
    "session_transition_matrix",
    "zipf_by_source",
    "session_expected_length",
    # round 4: community/collocation/quantization set + bucketed LM twin
    "neardup_communities",
    "neardup_degree_stats",
    "bigram_pmi_topk",
    "embedding_quantization_error",
    "docs_bigram_perplexity_bucketed",
    "neardup_khop_reach",
    "neardup_triangle_stats",
    "embedding_margin_stats",
    "embedding_knn_classvote",
    "docs_effective_tokens",
    "events_pareto_users",
    "customer_rfm_segments",
    "nation_revenue_hhi",
    "events_type_overlap",
    "supplier_fulfillment_lag",
    "orders_backlog_series",
    "docs_kn_perplexity_bucketed",
    "embedding_dim_variance",
    "corpus_cross_entropy",
    # round-5 additions
    "docs_interp_perplexity_bucketed",
    "events_peak_rate",
    "simhash_threshold_sweep",
    "embedding_label_drift",
    "orders_monthly_growth",
    "corpus_vocab_growth",
    "events_time_to_convert",
    "docs_duplicate_text_topk",
    "embedding_cosine_histogram",
    "embedding_knn_graph",
    "lsh_recall_curve",
    "customer_cohort_ltv",
    "events_dau_mau",
    "orders_priority_mix_shift",
    "embedding_hubness",
    "events_user_gaps",
    "docs_quality_dup_lift",
    "embedding_db_index",
    "session_path_topk",
    "minhash_threshold_sweep",
    "quality_ppl_correlation",
    "part_return_rates",
    "docs_char_class_profile",
    "ann_recall_audit",
    "docs_dedup_survivor_quality",
    "source_token_entropy",
    "customer_order_frequency",
    "query_likelihood_topk",
    "docs_token_percentiles_by_lang",
    "docs_template_shingles",
    "events_ab_conversion",
    "events_ab_value_ttest",
    "ann_probe_recall_curve",
    "ivf_cell_balance",
    "shingle_df_histogram",
    "docs_ppl_percentiles_by_source",
    "source_neardup_matrix",
    "events_survival_curve",
    "customer_revenue_gini",
    "supplier_single_source_parts",
    # round-6 additions
    "docs_stopword_profile",
    "docs_hapax_by_source",
    "docs_compression_proxy",
    "docs_prefix_dup_rate",
    "docs_casefold_dup_lift",
    "docs_sentence_length_profile",
    "events_retention_matrix",
    "events_funnel_dropoff_time",
    "events_burstiness",
    "events_hour_entropy_by_type",
    "events_lag1_autocorr",
    "events_value_benford",
    "customer_revenue_gini_binned",
    "supplier_part_concentration",
    "part_brand_price_dispersion",
    "customer_mktsegment_value_gap",
    "supplier_acctbal_quartiles",
    "orders_weekday_seasonality",
    "nation_trade_balance",
    "embedding_dim_kurtosis",
    "embedding_centroid_shift",
    "embedding_intrinsic_dim",
    "docs_ngram_novelty_curve",
    "docs_token_bigram_entropy",
    "docs_numeric_density",
    "events_type_cooccurrence_lift",
    "events_peak_to_mean_by_user",
    "events_quiet_hours",
    "customer_order_value_trend",
    "docs_word_length_profile",
    "docs_first_word_concentration",
    "events_value_percentiles_by_type",
    "events_first_last_type_matrix",
    "customer_repeat_rate_by_nation",
    "lineitem_quantity_price_corr",
    "docs_vocab_overlap_matrix",
    "orders_status_year_mix",
    "events_error_adjacency",
    "customer_acctbal_vs_spend_corr",
    "part_size_price_slope",
    "events_session_depth_histogram",
    "docs_duplicate_prefix_topk",
    "orders_value_cv_by_priority",
    "embedding_neardup_uncapped",
    "docs_heaps_curve",
    "docs_heaps_exponent",
    "docs_oov_rate_curve",
    "docs_term_burstiness_topk",
    "docs_readability_proxy",
    "docs_source_concentration_by_lang",
    "docs_length_band_quality",
    "docs_split_balance_audit",
    "docs_cluster_source_purity",
    "docs_hapax_quality_lift",
    "docs_char_bigram_entropy_by_lang",
    "docs_simhash_bit_balance",
    "events_cusum_drift",
    "events_hill_tail_index",
    "events_user_type_entropy_hist",
    "events_wau_growth",
    "events_type_user_gini_binned",
    "events_dow_hour_heatmap",
    "events_daily_anomaly_days",
    "events_winsorized_stats",
    "events_props_value_stats",
    "events_first_touch_attribution",
    "events_concurrent_sessions_peak",
    "events_retention_halflife",
    "customer_balance_band_behavior",
    "lineitem_discount_band_profile",
    "part_price_band_revenue",
    "nation_customer_supplier_balance",
    "supplier_revenue_consistency",
    "customer_segment_nation_chi2",
    "orders_interpurchase_gaps",
    "lineitem_returned_share_trend",
    "embedding_label_cohesion",
    "embedding_dim_corr_topk",
    "embedding_norm_anova",
    "embedding_sparsity_profile",
    "orders_basket_size_profile",
    "nation_revenue_share_trend",
    "events_hour_type_value_interaction",
    "events_error_burst_lengths",
    "lineitem_tax_band_profile",
    "part_name_token_price",
    "docs_quality_by_split",
    "docs_dup_length_bias",
    "orders_reconciliation_audit",
    # round-8 additions
    "events_last_touch_attribution",
    "events_linear_attribution",
    "docs_heaps_exponent_by_source",
    # round-9 addition
    "embedding_neardup_wide",
    # round-10 additions: sketch twins and data audits
    "events_distinct_kmv",
    "order_percentiles_loghist",
    "docs_sample_bottomk",
    "source_jaccard_minhash",
    "docs_distinct_shingles_kmv",
    "events_props_schema_census",
    "events_audience_overlap_kmv",
    "source_containment_kmv",
    "split_leakage_kmv",
    "docs_priority_sample",
    "events_interarrival_loghist",
    "user_lifetime_loghist",
    "fk_integrity_audit",
    "field_completeness_census",
    "events_ingest_dup_rate",
    "docs_byte_budget_percentiles",
    "embedding_coverage_audit",
    "events_weekly_distinct_kmv",
    "events_distinct_rollup_kmv",
]

JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def audit(plan: str) -> list[str]:
    lines = []
    joins = sorted({k for k in JOIN_KINDS if k in plan})
    lines.append(f"- joins: {', '.join(joins) if joins else 'none'}")
    # count real shuffles by their partitioning kind — BroadcastExchange
    # never matches these, so no subtraction (which used to miscount)
    shuf = len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)",
            plan,
        )
    )
    bcast = plan.count("BroadcastExchange")
    lines.append(f"- shuffle exchanges: {shuf}; broadcast exchanges: {bcast}")
    ha = plan.count("HashAggregate")
    if ha:
        note = " (>=2 per agg = map-side partials)" if ha >= 2 else ""
        lines.append(f"- HashAggregate nodes: {ha}{note}")
    if "Expand" in plan:
        lines.append("- Expand node: one-pass grouping sets (no re-scan per grouping)")
    if "WindowExec" in plan or re.search(r"\bWindow\b", plan):
        lines.append("- window pass present (sort within key partitions)")
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    pushed = [p for p in pushed if p.strip()]
    if pushed:
        lines.append(
            f"- pushed scan filters: {len(pushed)} scan(s), e.g. `{pushed[0][:90]}`"
        )
    else:
        lines.append("- pushed scan filters: none required (full-scan op)")
    return lines


def strip_initial_plans(plan: str) -> str:
    """Remove every `== Initial Plan ==` section — including ones
    NESTED inside scalar-subquery subtrees of the final plan (a plain
    split-at-first-marker truncates the enclosing final plan there,
    which is how q22's audit lost its LeftAnti join in round 1).

    A section body is every following line whose tree-decoration
    prefix (spaces/`:`/`+`/`-`) is longer than the marker line's; the
    first line at or above the marker's depth ends the section."""

    def deco_len(line: str) -> int:
        # length of the tree-drawing prefix: stops at the first real
        # character (for a marker line that's the leading '=' of '==')
        i = 0
        while i < len(line) and line[i] in " :+-":
            i += 1
        return i

    out: list[str] = []
    skip_depth: int | None = None
    for line in plan.splitlines():
        if skip_depth is not None:
            # section body prints aligned AT the marker's prefix depth
            # (or deeper); the parent resumes strictly shallower
            if line.strip() and deco_len(line) < skip_depth:
                skip_depth = None
            else:
                continue
        if "== Initial Plan ==" in line:
            skip_depth = deco_len(line)
            continue
        out.append(line)
    return "\n".join(out)


def main() -> None:
    from distributed_file_system_with_stream_processing_spark.plans.registry import QUERIES
    from distributed_file_system_with_stream_processing_spark.session import get_spark

    spark = get_spark(app_name="plans-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # At audit SF some queries produce empty intermediates and AQE
    # rewrites the whole final plan to EmptyRelation — truthful at
    # sf0.01, useless as a 100 TB plan narrative (q22's audit showed
    # "joins: none"). Excluding the empty-relation rule keeps the
    # real join/exchange shape in the finalized plan; production
    # sessions keep the rule.
    spark.conf.set(
        "spark.sql.adaptive.optimizer.excludedRules",
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
    )
    sf = "/root/testdata/sf0.01"

    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        "Auto-generated by `scripts/gen_plans.py` from `.explain` at sf0.01.",
        "For each query: join strategies, exchange count, scan pushdown evidence.",
        "Plan invariants are enforced by `tests/test_plans.py`; this file is the",
        "human-readable audit trail.",
        "",
    ]
    for name in AUDITED:
        df = QUERIES[name](spark, sf)
        # collect() executes THIS DataFrame's QueryExecution so the
        # AdaptiveSparkPlan below is the finalized one (a noop write
        # creates its own QueryExecution and leaves this plan
        # isFinalPlan=false — the audit would show the static plan)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=false" not in plan, name
        # the finalized AdaptiveSparkPlan prints the initial plan as a
        # second section (possibly nested, per subquery) — audit only
        # final sections or everything double-counts
        plan = strip_initial_plans(plan)
        assert "EmptyRelation" not in plan, f"{name}: empty-relation collapse in audit"
        out.append(f"## {name}")
        out.append("")
        out.extend(audit(plan))
        out.append("")
    # preserve hand-written trailing notes (the gen_shuffles "## sf1"
    # convention): everything from "# Hand-written notes" onward is
    # re-appended verbatim across regenerations.
    try:
        with open("PLANS.md") as f:
            old = f.read()
        idx = old.find("\n# Hand-written notes")
        if idx >= 0:
            out.append(old[idx + 1 :])
    except FileNotFoundError:
        pass
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(AUDITED)} queries")


if __name__ == "__main__":
    main()
