"""The closed-loop query workloads (short_queries, curation_cold_warm):
one client runs a fixed query set pass after pass."""

from __future__ import annotations

import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from harness import NO_TRACE, Bench, pct, tree_cpu_s
from tracing import SPARK_TOTALS, SparkStatus, Tracer

SHORT_QUERIES = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_nation_volume", "q8_market_share", "q9_nation_profit",
    "q10_returned_top_customers", "q11_important_parts", "q12_shipmode_priority",
    "q13_customer_distribution", "q15_top_supplier", "q16_supplier_part_breadth",
    "q17_small_quantity_revenue", "q18_large_orders", "q19_disjunctive_revenue",
    "q20_volume_suppliers", "q21_sole_returner", "q22_rich_inactive",
    "rs_filter_project", "rs_filtered_count", "rs_pipeline_batch",
    "rs_wordcount", "rs_running_agg",
]
CURATION = [
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "embedding_neardup",
    "neardup_communities", "docs_unigram_perplexity", "docs_kn_perplexity",
    "docs_bm25_score", "bpe_train_merges", "ann_ivf_trained",
    "semantic_dedup_kmeans", "lsh_recall_curve", "curation_funnel",
]


def run_query_passes(b: Bench, names: list[str], sf_dir: str, tracer: Tracer,
                     status: SparkStatus | None, first_clients: int) -> None:
    """A first pass (each query's first run in this session, collected for
    the oracle check) by ``first_clients`` concurrent clients, then whole
    warm passes by one client through the noop sink, as many as fit in
    ``seconds`` and at least one. Every pass runs the set in a
    seed-shuffled order. A query's time runs from the call to the query
    function until its action completes."""
    rng = random.Random(b.args.seed)
    outputs: dict[str, tuple] = {}

    def one_pass(tr: Tracer, cold: bool, clients: int = 1) -> tuple[float, dict[str, float], list[dict]]:
        """Returns (pass wall, query -> seconds, traced samples)."""
        order = list(names)
        rng.shuffle(order)
        times, samples = {}, []

        def run(q: str) -> None:
            r = b.attempt(b.query, q, sf_dir, tr, cold)
            if r is not None:
                times[q] = r[0]
                samples.append(r[3])
                if cold:
                    outputs[q] = (r[1], r[2])

        t = time.perf_counter()
        with ThreadPoolExecutor(clients) as ex:
            list(ex.map(run, order))
        return time.perf_counter() - t, times, samples

    first, _, _ = one_pass(NO_TRACE, True, first_clients)
    b.mark("first_pass")
    passes, lat, cpu = [], [], []
    alloc = b.jvm_alloc_mb()
    t0 = time.perf_counter()
    while not passes or (time.perf_counter() - t0) + statistics.mean(passes) <= b.args.seconds:
        c = tree_cpu_s()
        w, last, _ = one_pass(NO_TRACE, False)
        cpu.append(tree_cpu_s() - c)
        passes.append(w)
        lat += last.values()
    alloc = b.jvm_alloc_mb() - alloc
    # one client: the cold pass of the curation set; more: a warm-up only
    b.report["cold_pass_s" if first_clients == 1 else "warmup_pass_s"] = (first, "s", len(names))
    b.report["warm_pass_s"] = (statistics.median(passes), "s", len(passes))
    b.report["query_p50_s"] = (pct(lat, 50), "s", len(lat))
    b.report["query_p90_s"] = (pct(lat, 90), "s", len(lat))
    b.report["queries_per_s"] = (len(lat) / sum(passes), "1/s", len(lat))
    b.report["op_cpu_s"] = (sum(cpu) / len(lat), "s", len(lat))
    b.report["op_alloc_mb"] = (alloc / len(lat), "MB", len(lat))
    b.mark("warm")
    b.heap_retained()

    if tracer.enabled:
        b.layer["spark.cached_rdds"], b.layer["spark.storage_mem_bytes"] = status.storage()
        _, traced, samples = one_pass(tracer, False)
        _, after, _ = one_pass(NO_TRACE, False)
        # each query's traced time against its untraced passes just before
        # and just after, so running second does not count as overhead
        b.layer["trace.overhead_ratio"] = statistics.median(
            t / ((last[q] + after[q]) / 2) for q, t in traced.items() if q in last and q in after
        ) - 1.0
        status.settle()
        st = status.group_totals({s["group"] for s in samples})
        n = len(samples)
        b.layer["plans.build_s"] = statistics.median(s["build_s"] for s in samples)
        b.layer["plans.eager_jobs"] = sum(s["eager_jobs"] for s in samples) / n
        b.layer["spark.catalyst_s"] = statistics.median(s["catalyst_s"] for s in samples)
        for k in SPARK_TOTALS:
            b.layer[f"spark.{k}"] = st[k] / n
        b.extra["per_stage"] = st["per_stage"]
        b.extra["storage_after_traced_pass"] = status.storage()

        b.mark("traced")

    import duckdb

    con = duckdb.connect()
    for q, (cols, rows) in outputs.items():  # outside the timed passes
        if q in b.ORACLES:
            b.check_oracle(q, sf_dir, cols, rows, con)
    con.close()
    b.mark("check")
