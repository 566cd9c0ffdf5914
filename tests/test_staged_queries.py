"""Sketch-accuracy and planted-defect checks for the sketch and audit
queries of plans/llm_ops23/24/25/26.py.

Their oracle compares run with every other registered query in
tests/test_queries.py; this file checks what an oracle cannot: that
each estimate tracks the exact answer, and that each audit detects
planted dirt. The two plan tests here apply tests/test_plans.py's
checks to these modules' queries with tighter coverage than the
registry-wide versions.
"""

from __future__ import annotations

from distributed_file_system_with_stream_processing_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE
from tests.test_plans import (
    ALLOWED_LOOP,
    check_join_shape,
    check_no_lambda_in_scan,
    executed_plan,
)

SF_T2 = "/root/testdata/sf0.01"

_SKETCH_MODULES = {"llm_ops23", "llm_ops24", "llm_ops25", "llm_ops26"}


def _sketch_queries():
    return {
        name: fn
        for name, fn in QUERIES.items()
        if fn.__module__.rpartition(".")[2] in _SKETCH_MODULES
    }


def test_kmv_estimate_sane(spark):
    """The KMV estimate is a real distinct-count estimate: within the
    ~1/sqrt(k) band of the exact distinct count at sf0.01."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops23 import (
        events_distinct_kmv,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    est = {
        r["event_type"]: (r["est_distinct"], r["sketch_size"])
        for r in events_distinct_kmv(spark, SF_T2).collect()
    }
    truth = {
        r["event_type"]: r["d"]
        for r in load_table(spark, SF_T2, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(est) == set(truth)
    for t, (e, sk) in est.items():
        if sk < 64:
            assert e == truth[t]  # exact below k
        else:
            assert 0.5 * truth[t] <= e <= 2.0 * truth[t], (t, e, truth[t])


def test_loghist_percentiles_within_octave(spark):
    """Every reported percentile midpoint lies within one octave of
    the exact percentile at sf0.01 — the sketch's guarantee."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops23 import (
        order_percentiles_loghist,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    got = {
        (r["o_orderpriority"], r["q"]): r["est_cents"]
        for r in order_percentiles_loghist(spark, SF_T2).collect()
    }
    exact = {
        (r["o_orderpriority"], q): r[f"p{q}"]
        for r in load_table(spark, SF_T2, "orders")
        .groupBy("o_orderpriority")
        .agg(
            *[
                F.expr(
                    f"percentile(cast(round(o_totalprice * 100) as long), {q / 100})"
                ).alias(f"p{q}")
                for q in (50, 95)
            ]
        )
        .collect()
        for q in (50, 95)
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert exact[k] / 2 < est < exact[k] * 2, (k, est, exact[k])


def test_staged_plans_no_cartesian_or_bad_loop_join(spark):
    """test_plans' join-shape check on these modules' queries, plus
    the converse: each of them that ALLOWED_LOOP lets loop-join still
    plans that broadcast loop join, so a stale allowance fails here."""
    queries = _sketch_queries()
    assert len(queries) == 19, sorted(queries)
    for name, fn in queries.items():
        plan = executed_plan(fn(spark, SF_SMOKE))
        check_join_shape(name, plan)
        if name in ALLOWED_LOOP:
            assert "BroadcastNestedLoopJoin BuildRight" in plan, name


def test_staged_no_heavy_expressions_in_scan_predicates(spark):
    """test_plans' scan-predicate lambda guard on every one of these
    modules' queries, not only the compute-dense four it lists."""
    for name, fn in _sketch_queries().items():
        check_no_lambda_in_scan(name, executed_plan(fn(spark, SF_SMOKE)))


def test_audience_overlap_kmv_tracks_exact(spark):
    """The KMV Jaccard estimate is a real overlap estimate: within
    the ±3/sqrt(k) band of the exact audience Jaccard at sf0.01."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops24 import (
        _AO_K,
        events_audience_overlap_kmv,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    est = {
        (r["type_a"], r["type_b"]): r["jaccard_micro"] / 1e6
        for r in events_audience_overlap_kmv(spark, SF_T2).collect()
    }
    aud = {
        r["event_type"]: set(r["users"])
        for r in load_table(spark, SF_T2, "events")
        .groupBy("event_type")
        .agg(F.collect_set("user_id").alias("users"))
        .collect()
    }
    types = sorted(aud)
    exact = {
        (a, b): len(aud[a] & aud[b]) / len(aud[a] | aud[b])
        for i, a in enumerate(types)
        for b in types[i + 1 :]
    }
    assert set(est) == set(exact)
    band = 3.0 / (_AO_K ** 0.5)
    for k, e in est.items():
        assert abs(e - exact[k]) <= band, (k, e, exact[k])


def test_priority_sample_prefers_heavy_docs(spark):
    """Priority sampling must actually bias toward weight: the mean
    n_chars of sampled docs exceeds the corpus mean (deterministic
    data, deterministic sample — a fixed fact, not a flaky bound),
    and every reported priority equals the integer formula."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops24 import (
        docs_priority_sample,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    rows = docs_priority_sample(spark, SF_T2).collect()
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, SF_T2, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    assert all(docs[r["doc_id"]] == r["weight"] for r in rows)
    samp_mean = sum(r["weight"] for r in rows) / len(rows)
    corpus_mean = sum(docs.values()) / len(docs)
    assert samp_mean > corpus_mean

    import hashlib

    for r in rows[:40]:
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
        assert r["priority"] == (r["weight"] << 32) // (h + 1)


def test_split_leakage_kmv_rows(spark):
    """One row per eval split; leakage shares are valid micro shares
    and the train sketch estimate is within the KMV band of the
    exact distinct-shingle count at sf0.01."""
    from distributed_file_system_with_stream_processing_spark.functions import (
        text as T,
    )
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops24 import (
        _SL_K,
        split_leakage_kmv,
    )
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        docs_train_val_split,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    rows = {r["eval_split"]: r for r in split_leakage_kmv(spark, SF_T2).collect()}
    assert set(rows) == {"val", "test"}
    for r in rows.values():
        assert 0 <= r["jaccard_micro"] <= 1_000_000
        assert r["eval_in_train_micro"] == -1 or (
            0 <= r["eval_in_train_micro"] <= 1_000_000
        )

    split = docs_train_val_split(spark, SF_T2).select("doc_id", "split")
    docs = load_table(spark, SF_T2, "documents").join(split, "doc_id")
    n_train = (
        docs.filter(F.col("split") == "train")
        .select(F.explode(T.shingles(F.col("text"), 3)).alias("s"))
        .agg(F.countDistinct("s").alias("d"))
        .collect()[0]["d"]
    )
    est = rows["val"]["est_train_shingles"]
    band = 3.0 / (_SL_K ** 0.5)
    assert abs(est - n_train) <= band * n_train, (est, n_train)


def test_fk_audit_detects_planted_orphans(spark):
    """The edge audit must actually detect dirt: plant two orphaned
    child rows and a NULL key against a parent and get exactly 3
    dangling (NULL can never reference anything)."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops25 import (
        _edge_audit,
    )

    child = spark.createDataFrame(
        [(1,), (2,), (99,), (98,), (None,)], "ck long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    row = _edge_audit("t", child, "ck", parent, "pk").collect()[0]
    assert (row["n_child"], row["n_dangling"]) == (5, 3)


def test_completeness_census_detects_planted_missing(spark):
    """Planted NULLs and blank-after-trim strings are counted; clean
    columns report zero."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops25 import (
        _table_census,
    )

    df = spark.createDataFrame(
        [(1, "ok"), (2, "   "), (None, ""), (4, None)],
        "id long, s string",
    )
    got = {
        r["column_name"]: (r["n_rows"], r["n_missing"])
        for r in _table_census(df, "t", [("id", False), ("s", True)]).collect()
    }
    assert got == {"id": (4, 1), "s": (4, 3)}


def test_ingest_dup_rate_zero_on_clean_corpus(spark):
    """The synthetic corpus is duplicate-free by construction — the
    audit must say so (and the planted-replay detection below must
    fire), so a nonzero rate in production is signal, not noise."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops25 import (
        events_ingest_dup_rate,
    )

    rows = events_ingest_dup_rate(spark, SF_T2).collect()
    assert rows and all(r["n_dup_rows"] == 0 for r in rows)

    # planted replay: same payload under two event_ids
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_T2, "events").limit(50)
    replayed = ev.union(ev.withColumn("event_id", F.col("event_id") + 10**9))
    rows_n = replayed.groupBy("event_type").count().collect()
    dis = (
        replayed.select("event_type", "user_id", "ts", "value", "props")
        .distinct()
        .groupBy("event_type")
        .count()
        .collect()
    )
    n = {r["event_type"]: r["count"] for r in rows_n}
    d = {r["event_type"]: r["count"] for r in dis}
    assert sum(n.values()) == 2 * sum(d.values())  # every payload doubled


def test_byte_budget_median_dominates_unweighted(spark):
    """Weighting the rank walk by size can only move the reported
    percentile UP: for every (source, q) the byte-budget estimate is
    >= the unweighted loghist estimate, and within one octave of the
    exact weighted percentile computed in python."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops25 import (
        docs_byte_budget_percentiles,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )
    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        LogHistQuantileOp,
    )
    from pyspark.sql import functions as F

    weighted = {
        (r["source"], r["q"]): r["est_centichars"]
        for r in docs_byte_budget_percentiles(spark, SF_T2).collect()
    }
    d = load_table(spark, SF_T2, "documents").select(
        F.col("source").alias("event_type"), F.col("n_chars").alias("value")
    )
    unweighted = {
        (r["event_type"], r["q"]): r["est_cents"]
        for r in LogHistQuantileOp("lh_u", qs=(50, 95))(d).collect()
    }
    assert set(weighted) == set(unweighted)
    for k in weighted:
        assert weighted[k] >= unweighted[k], k

    chars = {}
    for r in load_table(spark, SF_T2, "documents").select("source", "n_chars").collect():
        chars.setdefault(r["source"], []).append(r["n_chars"])
    for (src, q), est in weighted.items():
        vals = sorted(chars[src])
        total = sum(vals)
        rank = (q * total + 99) // 100
        acc = 0
        for v in vals:
            acc += v
            if acc >= rank:
                exact = v * 100  # centichars
                break
        assert exact / 2 < est < exact * 2, ((src, q), est, exact)


def test_embedding_coverage_detects_planted_gaps(spark):
    """Full coverage on the clean corpus (every doc has a vector and
    vice versa), and planted gaps on both sides are detected: drop
    vectors -> per-source missing rises; drop docs -> orphan segment
    rises."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops25 import (
        embedding_coverage_audit,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    rows = {r["segment"]: r for r in embedding_coverage_audit(spark, SF_T2).collect()}
    assert all(r["missing_micro"] == 0 for r in rows.values())
    assert rows["(vec_orphans)"]["n_rows"] > 0

    # planted: remove half the vectors, then recompute the doc side
    docs = load_table(spark, SF_T2, "documents").select("doc_id", "source")
    vecs = (
        load_table(spark, SF_T2, "embeddings")
        .filter(F.col("vec_id") % 2 == 0)
        .select(F.col("vec_id").alias("doc_id"))
        .withColumn("hit", F.lit(1))
    )
    per_src = (
        docs.join(vecs, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).alias("m"),
        )
        .collect()[0]
    )
    assert per_src["m"] * 2 == per_src["n"]  # exactly the even half matched
