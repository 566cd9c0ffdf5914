"""sf1 rehearsal (r4-verdict item 8): run the most expensive headline
queries at sf1 (scripts/make_sf1.py output) and at sf0.1, and report:

- wall time at each scale (min of N warm runs) + the scaling factor;
- whether the executed plan at sf1 contains a CartesianProduct or a
  BroadcastNestedLoopJoin that is NOT one of the allow-listed 1-row
  BuildRight grand-total broadcasts (AQE re-plans at real sizes — a
  query whose smoke plan was clean can regress at scale);
- whether any gate_broadcast site fell back to shuffle join (the gate
  logs via its second return value inside the plans; here we detect it
  indirectly: a BroadcastHashJoin count drop between scales).

Emits one JSON line per query, then a summary table for SHUFFLES.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

QUERIES_UNDER_TEST = [
    "semantic_dedup",
    "dedup_agreement_matrix",
    "ann_opq_topk",
    "ann_pq_topk",
    "ann_ivf_trained",
    "docs_effective_tokens",
    "dedup_cluster_sizes",
    "semantic_dedup_kmeans",
    "dedup_ngram_jaccard",
    "neardup_pagerank",
    "dedup_minhash_lsh",
    "neardup_triangle_stats",
    "neardup_communities",
    "rrf_fusion_topk",
    "fusion_interp_topk",
    "part_pair_lift",
    "docs_kn_perplexity_bucketed",
    "embedding_neardup",
    "ann_ivf_bucketed",
    "embedding_logreg_score",
    "docs_bigram_perplexity_bucketed",
    "q1_pricing_summary",
    "q9_nation_profit",
    "q21_sole_returner",
    # round-5 late-phase additions: the new heavy audits — graded at
    # 10× with the same plan-shape + scaling questions. Mirror-heavy
    # regime note applies doubly: lsh_recall_curve and the survivor
    # audit are PAIR-driven (expect ~100× pair growth, sublinear wall
    # only because the df-cap/banding bound fan-out), the rest are
    # row-driven (expect ≤ ~10×).
    "lsh_recall_curve",
    "ann_recall_audit",
    "embedding_hubness",
    "embedding_knn_graph",
    "embedding_db_index",
    "quality_ppl_correlation",
    "docs_dedup_survivor_quality",
    "query_likelihood_topk",
    "source_token_entropy",
    "docs_template_shingles",
    "session_path_topk",
    "minhash_threshold_sweep",
    "docs_quality_dup_lift",
    # round-6 additions: the new heavy/pair-driven or training-backed
    # entries — intrinsic dim shares the sqrt(n)-cell kNN economics,
    # vocab overlap is the new term-keyed pair query, bigram entropy
    # and the novelty curve are the new gram-explode queries, and the
    # binned Gini is the new no-global-sort concentration path.
    "embedding_intrinsic_dim",
    "docs_vocab_overlap_matrix",
    "docs_token_bigram_entropy",
    "docs_ngram_novelty_curve",
    "docs_compression_proxy",
    "customer_revenue_gini_binned",
    "events_type_cooccurrence_lift",
    "events_retention_matrix",
    # round-6 late-phase additions: the capped pair query itself (the
    # band-bucket guard as a first-class plan — pair-driven, grade
    # against the ~100× mirror-pair regime), the new multi-lead and
    # sessionize-backbone event windows, the prefix-keyed boilerplate
    # top-k, the per-customer OLS trend window, and the fact-fact
    # full-outer reconciliation join.
    "embedding_neardup_uncapped",
    "events_error_adjacency",
    "events_session_depth_histogram",
    "docs_duplicate_prefix_topk",
    "customer_order_value_trend",
    "orders_reconciliation_audit",
    # round-7 additions: the two new queries over the 1 s sf0.1 gate
    # (cohesion is explode+rollup row-driven; bit balance is the
    # shingle-hash scan). The backbone consumers (agreement matrix,
    # cluster sizes, survivor quality, effective tokens) are already
    # listed above — their r7 rewrite onto the session-persisted
    # pair/CC tables shows as a wall-time DROP (agreement matrix
    # 34.7 s → 2.1 s at sf1).
    "embedding_label_cohesion",
    "docs_simhash_bit_balance",
    # round-8 backfill (r7 verdict #4): EVERY headline query ≥1 s at
    # sf0.1 now has a rehearsal row — the 27 below complete the stock
    # (mostly the pre-r6 LM-scoring and retrieval families, plus the
    # two IVF audits that now read the session-trained centroids).
    "bpe_train_merges",
    "ann_probe_recall_curve",
    "ivf_cell_balance",
    "docs_kn_perplexity",
    "neardup_khop_reach",
    "docs_interp_perplexity_bucketed",
    "docs_interp_perplexity",
    "curation_funnel",
    "bm25_retrieval_topk",
    "events_markov_stationary",
    "bigram_pmi_topk",
    "corpus_cross_entropy",
    "session_expected_length",
    "docs_bigram_perplexity",
    "tfidf_retrieval_topk",
    "embedding_label_drift",
    "simhash_threshold_sweep",
    "docs_clean_pack",
    "docs_ppl_percentiles_by_source",
    "minhash_containment",
    "decontaminate_bloom",
    "docs_kl_by_source",
    "contrastive_pairs",
    "dedup_exact_substring",
    "dsir_resample_topk",
    "tfidf_top_terms",
    "q5_local_supplier_volume",
    # round-8 new queries (dev_check gate: docs_heaps_exponent_by_source
    # crossed 1 s at sf0.1; the attribution twins ride along)
    "events_last_touch_attribution",
    "events_linear_attribution",
    "docs_heaps_exponent_by_source",
    # round-9 addition: the promoted wide-band neardup (16-bit band
    # keys — grade against the ~100× mirror-pair regime; probe said
    # 9.2 s at sf1 vs 95 s cold default)
    "embedding_neardup_wide",
]

SF01 = os.environ.get("SF01_DIR", "/root/testdata/sf0.1")
SF1 = os.environ.get("SF1_DIR", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1"))
RUNS = int(os.environ.get("SF1_RUNS", "2"))
# SF1_ONLY=a,b,c: refresh just those rows and MERGE into the existing
# SF1_REHEARSAL.json (replace matching rows in place, append new ones)
# — the per-round refresh path for queries whose plan changed.
ONLY = [s for s in os.environ.get("SF1_ONLY", "").split(",") if s]


def executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def run_one(q, fn, spark, sf_dir: str):
    # One DISCARDED warm pass before the timed runs: iterative
    # driver-loop queries (CC, Lloyd) JIT-warm over several runs —
    # measured 68.8 → 39.4 → 12.7 s for semantic_dedup at sf1 in one
    # session — and a cold min-of-2 over-reports them 3-8×. The warm
    # pass prices the PLAN, which is what the scale factor audits.
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    times = []
    plan = ""
    for _ in range(RUNS):
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
        plan = df._jdf.queryExecution().executedPlan().toString()
    return min(times), plan


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SF1_DRIVER_MEM", "48g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from distributed_file_system_with_stream_processing_spark.plans.registry import QUERIES

    out = []
    for q in (ONLY or QUERIES_UNDER_TEST):
        fn = QUERIES[q]
        try:
            t01, _ = run_one(q, fn, spark, SF01)
            t1, plan1 = run_one(q, fn, spark, SF1)
        except Exception as ex:  # noqa: BLE001 — rehearsal must survey all
            print(json.dumps({"q": q, "error": f"{type(ex).__name__}: {ex}"[:300]}), flush=True)
            out.append({"q": q, "error": str(ex)[:200]})
            continue
        cart = plan1.count("CartesianProduct")
        bnlj = plan1.count("BroadcastNestedLoopJoin")
        bnlj_br = plan1.count("BroadcastNestedLoopJoin BuildRight")
        rec = {
            "q": q,
            "sf0.1_s": round(t01, 2),
            "sf1_s": round(t1, 2),
            "scale_factor": round(t1 / t01, 2) if t01 > 0 else None,
            "cartesian": cart,
            "bnlj": bnlj,
            "bnlj_non_buildright": bnlj - bnlj_br,
        }
        print(json.dumps(rec), flush=True)
        out.append(rec)
    print("== summary ==")
    print(f"| query | sf0.1 s | sf1 s | x | cart | bnlj!BR |")
    print(f"| --- | --- | --- | --- | --- | --- |")
    for r in out:
        if "error" in r:
            print(f"| {r['q']} | ERROR {r['error'][:60]} |")
        else:
            print(
                f"| {r['q']} | {r['sf0.1_s']} | {r['sf1_s']} | {r['scale_factor']} "
                f"| {r['cartesian']} | {r['bnlj_non_buildright']} |"
            )
    if ONLY and os.path.exists("SF1_REHEARSAL.json"):
        with open("SF1_REHEARSAL.json") as fh:
            prior = json.load(fh)
        fresh = {r["q"]: r for r in out}
        merged = [fresh.pop(r["q"], r) for r in prior] + list(fresh.values())
        out = merged
    with open("SF1_REHEARSAL.json", "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
