"""Physical-plan assertions — the 100 TB safety net.

Correctness tests say a query's answer is right at sf0.001; these say
the PLAN is right: filters reach the parquet scan, scans read only the
projected columns, dimension joins broadcast instead of shuffling the
fact side, nothing degenerates to a cartesian product, and the hot
path stays inside whole-stage codegen. A regression here is invisible
at test scale and fatal at 100 TB.
"""

from __future__ import annotations

import pytest

from distributed_file_system_with_stream_processing_spark.plans import _backbones
from distributed_file_system_with_stream_processing_spark.plans.registry import QUERIES

from .conftest import SF_SMOKE


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# -- pushdown & pruning ----------------------------------------------------


def test_q6_filters_pushed_to_scan(spark):
    plan = formatted_plan(QUERIES["q6_forecast_revenue"](spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    # the selective predicates must reach the parquet reader, not sit
    # in a post-scan Filter only
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln or "l_discount" in ln for ln in pushed), pushed


def test_q6_scan_prunes_columns(spark):
    plan = formatted_plan(QUERIES["q6_forecast_revenue"](spark, SF_SMOKE))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    # q6 needs 4 lineitem columns; a scan mentioning l_comment means
    # pruning broke
    assert all("l_comment" not in ln for ln in read), read


def test_q1_scan_prunes_columns(spark):
    plan = formatted_plan(QUERIES["q1_pricing_summary"](spark, SF_SMOKE))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("l_comment" not in ln for ln in read), read


def test_rs_filter_project_pushdown(spark):
    plan = formatted_plan(QUERIES["rs_filter_project"](spark, SF_SMOKE))
    assert "PushedFilters: [" in plan


# -- join strategy ----------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q5_local_supplier_volume", "top_customers_by_revenue"],
)
def test_dim_joins_broadcast(spark, name):
    plan = executed_plan(QUERIES[name](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    # no dim join may fall back to a sort-merge shuffle of the fact side
    # except the fact-fact orders⋈lineitem join
    assert plan.count("SortMergeJoin") <= 1, plan


# Brute-force ANN is by definition queries × base; its correct
# 100 TB plan IS a nested-loop with the tiny query side broadcast
# (the base side never shuffles). IVF's centroid assignment is the
# same shape: every vector × K centroids with the metadata-scale
# centroid table broadcast (fan-out bounded by K, never a shuffle).
# Everything else must never loop-join, and nothing may ever
# cartesian (no broadcast at all).
ALLOWED_LOOP = {
    "ann_cosine_topk",
    "embedding_neardup_exact",
    "ann_ivf_bucketed",
    # int8 coarse pass is the same queries-broadcast brute-force shape
    "ann_quantized_topk",
    # PQ coarse pass: per-query LUT table broadcast onto the code
    # table — the same queries-broadcast shape with 8-byte rows
    "ann_pq_topk",
    # OPQ = rotation map + the identical PQ coarse pass
    "ann_opq_topk",
    # random-negative fan-out: id-only base column × the 10-row
    # broadcast query table (+ the inherited ANN brute pass)
    "contrastive_pairs",
    # tf-idf needs the global doc count N attached to every scored
    # term: a 1-row global-aggregate broadcast. With a broadcast
    # 1-row build side, BNLJ degenerates to "append a scalar
    # column" — zero fan-out, stream side never shuffles. A
    # synthetic constant equi-key does NOT avoid it: Catalyst
    # constant-folds foldable join keys and plans the same BNLJ
    # (verified empirically), so this IS the correct 100 TB shape.
    "tfidf_top_terms",
    # same 1-row global-total broadcast shape (Q11's grand-total
    # scalar subquery; the perplexity LM's corpus-token total)
    "q11_important_parts",
    "docs_unigram_perplexity",
    # same shape again: BM25's (N, total_len) corpus stats and
    # DSIR's (r_tot, t_tot) grand totals are 1-row BuildRight
    # broadcasts onto |Q|-row / 256-row metadata tables
    "docs_bm25_score",
    "dsir_importance_weights",
    "dsir_resample_topk",
    # PMI's (n_bg, n_uni) grand totals: the same 1-row BuildRight
    # broadcast onto the vocab-scale gram table
    "bigram_pmi_topk",
    # same 1-row grand-total broadcast shape (n_all / n_users /
    # n_tokens / chi-square N / triangle census totals onto
    # metadata-scale aggregates)
    "embedding_margin_stats",
    "ngram_coverage_curve",
    "events_pareto_users",
    "lang_source_contingency",
    "neardup_triangle_stats",
    "customer_rfm_segments",
    # inherits ann_cosine_topk's queries-broadcast brute pass
    "embedding_knn_classvote",
    "dsir_resample_stratified",
    "bm25_retrieval_topk",
    "rrf_fusion_topk",
    # inherits bm25_retrieval_topk's 1-row corpus-stats broadcast
    "fusion_interp_topk",
    # same shape: the bigram LM's 1-row vocabulary-size broadcast
    # and the KL diagnostic's 1-row corpus-total broadcast (the
    # interpolated LM carries the same (V, N) 1-row broadcast)
    "docs_bigram_perplexity",
    "docs_kl_by_source",
    "docs_interp_perplexity",
    # same shape: KN's (D, N1+(··)) constants ride one 1-row
    # BuildRight broadcast onto the gram-count table
    "docs_kn_perplexity",
    # same shape: PageRank's 1-row node-count broadcast seeds the
    # initial rank column on the degree table
    "neardup_pagerank",
    # same shape: the basket miner's 1-row total-order-count
    # broadcast onto the pair-support table
    "part_pair_lift",
    # same shape: the stationary chain's 1-row state-count
    # broadcast seeds the uniform π₀ on the states table
    "events_markov_stationary",
    # same shape: TF-IDF retrieval's 1-row doc-count broadcast
    # onto the vocab-scale df table
    "tfidf_retrieval_topk",
    # reuses llm_ops4.bigram_model: the same 1-row vocabulary-count
    # broadcast (crossJoin(broadcast(vocab))) that
    # docs_bigram_perplexity carries — identical BuildRight shape
    "corpus_cross_entropy",
    # |labels|²-row centroid self-join on a strict inequality —
    # a METADATA-scale (10×10) non-equi join; the corpus is
    # touched once upstream in the label-keyed partial agg
    "embedding_label_drift",
    # the Heaps-curve (min, max) stats pair rides the same 1-row
    # BuildRight broadcast shape, twice (doc curve + vocab curve)
    "corpus_vocab_growth",
    # the cosine histogram is the ann_cosine_topk queries-broadcast
    # brute pass feeding a bins-sized rollup — same BuildRight shape
    "embedding_cosine_histogram",
    # Davies-Bouldin: the embedding_label_drift |labels|²-row
    # centroid self-join shape (strict-inequality non-equi join on
    # the METADATA-scale centroid table; corpus touched once)
    "embedding_db_index",
    # inherits docs_unigram_perplexity's 1-row corpus-token-total
    # BuildRight broadcast (the same LM backbone feeds the x side
    # of the correlation)
    "quality_ppl_correlation",
    # runs BOTH ANN paths: inherits ann_cosine_topk's
    # queries-broadcast brute pass and ann_ivf_trained's
    # centroid-probe shapes
    "ann_recall_audit",
    # the QL ranker's 1-row corpus-length broadcast onto the
    # matched-postings table (the bm25 corpus-stats shape)
    "query_likelihood_topk",
    # probe curve: inherits the queries-broadcast brute pass + the
    # 1-row truth-total BuildRight broadcast
    "ann_probe_recall_curve",
    # inherits the perplexity backbone's 1-row corpus-token-total
    # BuildRight broadcast
    "docs_ppl_percentiles_by_source",
    # the survival curve's 1-row user-total broadcast onto the
    # 4-row threshold grid
    "events_survival_curve",
    # casefold lift: the raw-key and normalized-key 1-row dup
    # totals cross-join into the single output row — two 1-row
    # BuildRight broadcasts, zero fan-out
    "docs_casefold_dup_lift",
    # novelty curve: the 1-row max-doc-id broadcast attaches the
    # decile denominator to every gram row (the tfidf N shape)
    "docs_ngram_novelty_curve",
    # lift: the 1-row unit-total broadcast onto the C(|types|,2)-row
    # pair table (the part_pair_lift shape on behavior)
    "events_type_cooccurrence_lift",
    # Heaps checkpoints: the 10-row arithmetic-decile table rides a
    # BuildRight broadcast into two ≤-joins (bounded 10× fan-out;
    # the corpus-scale sides never shuffle for the join)
    "docs_heaps_curve",
    "docs_heaps_exponent",
    # OOV budgets: the 3-row cutoff axis crossJoins the vocab-scale
    # rank table (bounded 3× fan-out)
    "docs_oov_rate_curve",
    # 1-row grand-total BuildRight broadcasts (the tfidf N shape):
    # split share, attribution share, max-week gate, gross total,
    # corpus sum-vector total, Gram row count
    "docs_split_balance_audit",
    "events_first_touch_attribution",
    # r8: the last/linear attribution twins share first-touch's
    # 1-row grand-total share broadcast
    "events_last_touch_attribution",
    "events_linear_attribution",
    # r8: per-source Heaps — the |sources|·10-row checkpoint table
    # rides BuildRight broadcasts into the two ≤-joins (the
    # docs_heaps_curve shape, keyed by source)
    "docs_heaps_exponent_by_source",
    "events_retention_halflife",
    "lineitem_discount_band_profile",
    "embedding_label_cohesion",
    "embedding_dim_corr_topk",
    # same 1-row grand-total shape: basket-share and catalog-mean
    # broadcasts
    "orders_basket_size_profile",
    "part_name_token_price",
    # |sources|-row MinHash sketch table self-joined on a strict
    # inequality — the embedding_label_drift METADATA-scale shape;
    # the corpus is touched once upstream in the (source, shingle) agg
    "source_jaccard_minhash",
    # KMV pair queries: the corpus is touched once in the
    # (key, hash)-distinct agg; the loop join is the broadcast
    # self-cross of the |keys|-row sketch table (|types| ≤ 5,
    # |sources| = 20, |splits| = 3) on a strict inequality or a 1×2
    # cross — all metadata-scale
    "events_audience_overlap_kmv",
    "source_containment_kmv",
    "split_leakage_kmv",
}


def check_join_shape(name: str, plan: str) -> None:
    assert "CartesianProduct" not in plan, name
    if name not in ALLOWED_LOOP:
        assert "BroadcastNestedLoopJoin" not in plan, name
    elif "BroadcastNestedLoopJoin" in plan:
        assert "BroadcastNestedLoopJoin BuildRight" in plan, name


@pytest.fixture(scope="module")
def registry_builds(spark):
    """Every registered query built once at sf0.001, in registry order,
    from an empty backbone cache: name -> (executed plan, Spark jobs
    the build ran). Each build runs under its own job group; the
    listener bus is drained before its jobs are counted."""
    _backbones.clear()
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    builds = {}
    try:
        for i, (name, fn) in enumerate(QUERIES.items()):
            group = f"build-{i}"
            sc.setJobGroup(group, name)
            df = fn(spark, SF_SMOKE)
            bus.waitUntilEmpty()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            builds[name] = (executed_plan(df), jobs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return builds


def test_no_cartesian_or_loop_join_anywhere(registry_builds):
    for name, (plan, _) in registry_builds.items():
        check_join_shape(name, plan)


# Builds that may run Spark jobs, by mechanism. Every other registered
# query builds with zero jobs: table schemas come from parquet footers,
# so a plan is only driver work until its action. Each name here must
# still run at least one job, so the list cannot go stale.
EAGER_BUILDS: dict[str, set[str]] = {
    # gate_broadcast persists and counts a table whose size tracks the
    # data, to choose a broadcast or a shuffle join
    "gate count": {
        "cross_source_leakage",
        "curation_funnel",
        "docs_effective_tokens",
        "docs_neardup_rate_by_source",
        "docs_ppl_percentiles_by_source",
        "docs_unigram_perplexity",
        "minhash_containment",
        "minhash_jaccard_estimate",
        "neardup_communities",
        "neardup_khop_reach",
        "quality_ppl_correlation",
    },
    # plan_ckpt materializes a table that several branches (or each
    # k-hop / PageRank / triangle pass) read, so the corpus pass runs
    # once per invocation
    "plan_ckpt": {
        "bigram_pmi_topk",
        "bm25_retrieval_topk",
        "corpus_cross_entropy",
        "docs_bigram_perplexity",
        "docs_bigram_perplexity_bucketed",
        "docs_interp_perplexity",
        "docs_interp_perplexity_bucketed",
        "docs_kn_perplexity",
        "docs_kn_perplexity_bucketed",
        "docs_ngram_novelty_curve",
        "docs_token_bigram_entropy",
        "dsir_importance_weights",
        "dsir_resample_stratified",
        "dsir_resample_topk",
        "embedding_label_drift",
        "embedding_margin_stats",
        "events_markov_stationary",
        "fusion_interp_topk",
        "lsh_recall_curve",
        "minhash_threshold_sweep",
        "neardup_communities",
        "neardup_degree_stats",
        "neardup_khop_reach",
        "neardup_pagerank",
        "neardup_triangle_stats",
        "query_likelihood_topk",
        "rrf_fusion_topk",
        "session_expected_length",
        "simhash_threshold_sweep",
        "tfidf_retrieval_topk",
    },
    # connected components counts its edges and, under the driver gate,
    # collects them to label components on the driver
    "connected components": {
        "dedup_clusters",
        "docs_cluster_source_purity",
        "semantic_dedup",
    },
    # driver loops: the model (k-means centroids, PQ codebooks, the OPQ
    # rotation, PCA moments, logistic-regression weights, BPE merges)
    # is fit from aggregates collected each iteration, then enters the
    # plan as literals
    "driver loop": {
        "ann_ivf_trained",
        "ann_opq_topk",
        "ann_pq_topk",
        "bpe_compression_curve",
        "bpe_fertility_by_lang",
        "bpe_per_lang_rules",
        "bpe_tokenize_topk",
        "bpe_train_merges",
        "embedding_intrinsic_dim",
        "embedding_kmeans_assign",
        "embedding_logreg_score",
        "embedding_pca_spectrum",
        "semantic_dedup_kmeans",
    },
}


def test_plan_builds_run_no_spark_job(registry_builds):
    """Building a query's plan runs no Spark job unless the query is in
    EAGER_BUILDS, and every query there still runs one."""
    allowed = set().union(*EAGER_BUILDS.values())
    assert allowed <= set(QUERIES), sorted(allowed - set(QUERIES))
    ran = {name: jobs for name, (_, jobs) in registry_builds.items() if jobs}
    assert {n: j for n, j in ran.items() if n not in allowed} == {}
    assert sorted(allowed - set(ran)) == []


def test_minhash_jaccard_corpus_never_shuffles(spark):
    """minhash_jaccard_estimate's docstring claims the corpus-scale
    shingle table never reshuffles when the pair table passes the size
    gate: candidates join back twice, both times as the broadcast
    build side. Without the explicit hint on the second join the shape
    depends on Catalyst's size estimate for a join output — unknowable
    at 100 TB — so under the gate the plan must show two
    BroadcastHashJoins and zero sort-merge/shuffled-hash joins."""
    for q in ("minhash_jaccard_estimate", "minhash_containment"):
        plan = executed_plan(QUERIES[q](spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= 2, (q, plan)
        assert "SortMergeJoin" not in plan, (q, plan)
        assert "ShuffledHashJoin" not in plan, (q, plan)


def test_gated_broadcast_fallback_over_bound(spark, monkeypatch):
    """Over the gate's row bound the broadcast hint must DROP — the
    pair-table joins fall back to a key shuffle instead of a hinted
    broadcast that OOMs at a pathological dup rate — and the results
    must be identical either way."""
    from distributed_file_system_with_stream_processing_spark.operators import _util as U

    small = [
        sorted(map(tuple, QUERIES[q](spark, SF_SMOKE).collect()))
        for q in ("minhash_jaccard_estimate", "docs_neardup_rate_by_source")
    ]
    monkeypatch.setattr(U, "GATE_MAX_ROWS", 0)
    # Disable estimator-chosen broadcasts for the plan assertion: at
    # smoke scale the cached pair table is tiny, so even hint-less
    # Catalyst would broadcast it (the graceful degradation the gate
    # restores). With auto-broadcast off, a BroadcastHashJoin in the
    # static plan can ONLY come from a leftover hint — its absence
    # proves the gate dropped it.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for (q, outer_joins), rows in zip(
            (("minhash_jaccard_estimate", 2), ("docs_neardup_rate_by_source", 1)),
            small,
        ):
            df = QUERIES[q](spark, SF_SMOKE)
            plan = df._jdf.queryExecution().sparkPlan().toString()
            # The cached pair subtree may legitimately still print a
            # BroadcastHashJoin (it was planned under the default conf
            # when the gate counted it); what must change is the OUTER
            # join(s) that consume the pairs — hint dropped + auto off
            # ⇒ every one becomes a shuffle join.
            n_shuffle_joins = plan.count("SortMergeJoin") + plan.count(
                "ShuffledHashJoin"
            )
            assert n_shuffle_joins >= outer_joins, (q, plan)
            assert sorted(map(tuple, df.collect())) == rows, q
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bigram_bucketed_twin_single_gram_exchange(spark):
    """docs_bigram_perplexity_bucketed's claim: the persisted LM is
    bucketed on gram, so the score join carries exactly ONE gram
    Exchange (the docs side) per SortMergeJoin — the model side reads
    bucket-aligned. Auto-broadcast is disabled so the join can't hide
    behind an estimator-chosen broadcast at smoke scale."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q in (
            "docs_bigram_perplexity_bucketed",
            "docs_kn_perplexity_bucketed",
            "docs_interp_perplexity_bucketed",
        ):
            df = QUERIES[q](spark, SF_SMOKE)
            plan = executed_plan(df)
            assert "Bucketed: true" in plan, (q, plan)
            n_smj = plan.count("SortMergeJoin")
            n_gram_ex = plan.count("Exchange hashpartitioning(gram")
            assert n_smj >= 1 and n_gram_ex == n_smj, (q, n_smj, n_gram_ex, plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# -- codegen & aggregation shape --------------------------------------------


def test_q1_wholestage_codegen_and_partial_agg(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_SMOKE)
    df.collect()  # AQE reveals codegen spans only in the final plan
    plan = executed_plan(df)
    # codegen stages print as `*(n) HashAggregate...` in the tree string
    assert "*(1)" in plan and "*(2)" in plan, plan
    # partial (map-side) aggregation before the exchange: two
    # HashAggregate levels around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_dedup_exact_partial_agg(spark):
    plan = executed_plan(QUERIES["dedup_exact"](spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2, plan


def test_no_python_row_udfs_in_headline_plans(spark):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned in the hot
    path; Arrow (ArrowEvalPython / mapInPandas) is the only Python
    allowed."""
    for name in [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "rs_pipeline_batch",
        "rs_wordcount",
        "dedup_minhash_lsh",
        "ann_cosine_topk",
    ]:
        plan = executed_plan(QUERIES[name](spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan, name


def check_no_lambda_in_scan(name: str, plan: str) -> None:
    for ln in plan.splitlines():
        if "FileScan" in ln:
            assert "lambdafunction" not in ln, (name, ln[:200])
    # the tree prints top-down, so everything after the LAST
    # Exchange is the scan-side stage: no Filter there may carry a
    # higher-order lambda (= re-evaluating shingles in the scan)
    scan_stage = plan.rsplit("Exchange", 1)[-1]
    for ln in scan_stage.splitlines():
        if "Filter" in ln:
            assert "lambdafunction" not in ln, (name, ln[:200])


def test_no_heavy_expressions_in_scan_predicates(spark):
    """Guard the InferFiltersFromGenerate fix: no scan may carry a
    pushed-down predicate containing higher-order-function lambdas (the
    single-partition re-evaluation pathology) in the compute-dense
    dedup/text plans."""
    for name in [
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "doc_fingerprint",
        "doc_winnowing_fingerprint",
        "source_jaccard_minhash",
        "docs_distinct_shingles_kmv",
        "source_containment_kmv",
        "split_leakage_kmv",
    ]:
        plan = executed_plan(QUERIES[name](spark, SF_SMOKE))
        check_no_lambda_in_scan(name, plan)


def test_explicit_broadcasts_survive_disabled_estimator(spark):
    """The 100 TB mis-estimate drill: at scale Catalyst's size
    estimates for dims and join outputs are unreliable, and a flipped
    estimate silently turns a broadcast join into a corpus-wide
    sort-merge shuffle. Disable the auto-broadcast estimator entirely
    (threshold -1 = how every mis-estimate looks to the planner) and
    assert the engine's EXPLICIT broadcast() hints still pin
    BroadcastHashJoin on the representative query shapes."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in [
            "q3_shipping_priority",
            "q5_local_supplier_volume",
            "top_customers_by_revenue",
            "minhash_jaccard_estimate",
            "decontaminate_ngram",
            "events_value_zscore",
        ]:
            plan = executed_plan(QUERIES[name](spark, SF_SMOKE))
            assert "BroadcastHashJoin" in plan, (name, plan[:400])
        # and the pinned claim holds even now: BOTH candidate
        # join-backs onto the shingle table stay broadcast. (The LSH
        # band self-join INSIDE pair generation legitimately becomes a
        # sort-merge join here — that IS its 100 TB shape; only the
        # corpus join-backs are hint-pinned.)
        plan = executed_plan(QUERIES["minhash_jaccard_estimate"](spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= 2, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_events_peak_rate_single_exchange_window_agg_fusion(spark):
    """events_peak_rate's plan claim: the RANGE-frame window and the
    per-user max/count run on ONE user_id Exchange — the groupBy key
    equals the window partition key, so Catalyst reuses the
    distribution instead of reshuffling between the two stages."""
    df = QUERIES["events_peak_rate"](spark, SF_SMOKE)
    df.collect()
    plan = executed_plan(df)
    # the finalized AdaptiveSparkPlan prints final + initial sections;
    # the invariant must hold per section: exactly as many user_id
    # Exchanges as Window operators (one each)
    n_win = plan.count("Window [count")
    n_ex = plan.count("Exchange hashpartitioning(user_id")
    assert n_win >= 1 and n_ex == n_win, (n_ex, n_win, plan)
    # partial agg present above the window (map-side max before any
    # further movement)
    assert "partial_max" in plan, plan
