"""RainStorm pipeline tests: batch/stream parity, running aggregates,
restart exactly-once (the reference's kill-2-VMs test re-expressed as
restart-from-checkpoint), and the TableStore dest-file sink."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from distributed_file_system_with_stream_processing_spark.dfs import TableStore
from distributed_file_system_with_stream_processing_spark.streaming import ops as O
from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
    RainStormJob,
)

SCHEMA = "event_id long, event_type string, value double"


def _batch(spark, start, n, etype_cycle=("click", "view", "purchase")):
    rows = [
        (start + i, etype_cycle[(start + i) % len(etype_cycle)], float(start + i))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _write(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def dirs(tmp_path):
    return {
        "src": str(tmp_path / "src"),
        "sink": str(tmp_path / "sink"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def test_batch_parity_with_query_surface(spark):
    """job.run_batch == the registered rs_pipeline_batch plan."""
    from distributed_file_system_with_stream_processing_spark.plans.rainstorm_queries import (
        FILTER_PATTERN,
        rs_pipeline_batch,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    job = RainStormJob(
        O.filter_contains("props", FILTER_PATTERN, ["event_id", "event_type"]),
        O.count_by("event_type"),
    )
    got = {
        (r["event_type"],): r["cnt"] for r in job.run_batch(events).collect()
    }
    want = {
        (r["category"],): r["cnt"]
        for r in rs_pipeline_batch(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want


def test_stream_transform_incremental(spark, dirs):
    _write(_batch(spark, 0, 30), dirs["src"])
    _write(_batch(spark, 30, 30), dirs["src"])
    job = RainStormJob(O.filter_equals("event_type", "click"), O.identity())
    q = job.start_stream(
        spark, dirs["src"], SCHEMA, dirs["ckpt"], sink_dir=dirs["sink"], query_name="t1"
    )
    try:
        q.processAllAvailable()
        first = spark.read.parquet(dirs["sink"]).count()
        expect = _batch(spark, 0, 60).filter(F.col("event_type") == "click").count()
        assert first == expect
        _write(_batch(spark, 60, 30), dirs["src"])
        q.processAllAvailable()
        second = spark.read.parquet(dirs["sink"]).count()
        expect2 = _batch(spark, 0, 90).filter(F.col("event_type") == "click").count()
        assert second == expect2
    finally:
        q.stop()


def test_stream_running_aggregate(spark, dirs):
    _write(_batch(spark, 0, 45), dirs["src"])
    job = RainStormJob(O.identity(), O.count_by("event_type"))
    q = job.start_stream(spark, dirs["src"], SCHEMA, dirs["ckpt"], query_name="agg1")
    try:
        q.processAllAvailable()
        got = {
            r["event_type"]: r["cnt"] for r in spark.sql("select * from agg1").collect()
        }
        want = {
            r["event_type"]: r["cnt"]
            for r in _batch(spark, 0, 45).groupBy("event_type").agg(
                F.count(F.lit(1)).alias("cnt")
            ).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_restart_from_checkpoint_exactly_once(spark, dirs):
    """Stop mid-stream, add data, restart with the same checkpoint: no
    duplicates, no loss — the engine-managed version of the reference's
    batch-ID dedup under failure (user/tests.go:152-191 kills 2 VMs)."""
    job = RainStormJob(O.filter_equals("event_type", "click"), O.identity())
    _write(_batch(spark, 0, 30), dirs["src"])
    q = job.start_stream(
        spark, dirs["src"], SCHEMA, dirs["ckpt"], sink_dir=dirs["sink"], query_name="r1"
    )
    q.processAllAvailable()
    q.stop()
    _write(_batch(spark, 30, 30), dirs["src"])
    q2 = job.start_stream(
        spark, dirs["src"], SCHEMA, dirs["ckpt"], sink_dir=dirs["sink"], query_name="r2"
    )
    try:
        q2.processAllAvailable()
        total = spark.read.parquet(dirs["sink"]).count()
        expect = _batch(spark, 0, 60).filter(F.col("event_type") == "click").count()
        assert total == expect  # exactly-once: nothing duplicated or lost
        ids = [r["event_id"] for r in spark.read.parquet(dirs["sink"]).collect()]
        assert len(ids) == len(set(ids))
    finally:
        q2.stop()


def test_stream_static_broadcast_join(spark, tmp_path):
    """Stream-static join: each micro-batch hash-joins against a static
    dimension table (broadcast — no state, no watermark needed; the
    static side is re-broadcast per batch). The streaming twin of every
    batch dim join in plans/."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    os.makedirs(src)
    events = spark.createDataFrame(
        [(1, "click", 10.0), (2, "view", 20.0), (3, "click", 30.0)],
        "event_id long, event_type string, value double",
    )
    events.coalesce(1).write.mode("append").parquet(src)
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "impression")],
        "event_type string, category string",
    )

    stream = spark.readStream.schema("event_id long, event_type string, value double").parquet(src)
    joined = stream.join(F.broadcast(dim), "event_type").select(
        "event_id", "category", "value"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        (r["event_id"], r["category"], r["value"])
        for r in spark.sql("SELECT * FROM ss_join_mem").collect()
    }
    assert got == {(1, "engagement", 10.0), (2, "impression", 20.0), (3, "engagement", 30.0)}


def test_neardup_stream_matches_batch_simhash(spark, tmp_path):
    """Streaming near-dup: planted near-identical docs across two
    micro-batch files are detected; the live-stream pair set equals the
    batch twin AND the batch operator's simhash_pairs ground truth."""
    import datetime
    import os

    from distributed_file_system_with_stream_processing_spark.operators import dedup as D
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        neardup_stream,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    base = " ".join(
        "the quick brown fox jumps over the lazy dog near the riverbank "
        "while seventeen sleepy pelicans watch from weathered wooden posts "
        "and the afternoon light settles slowly across the quiet valley "
        "until every shadow stretches long and thin over the cooling grass".split()
    )
    rows1 = [
        (1, base, t0),
        (2, "completely unrelated text about parquet row group statistics", t0),
    ]
    rows2 = [
        (3, base + " ok", t0 + datetime.timedelta(minutes=10)),  # near-dup of 1
        (4, "another distinct document mentioning watermarks and state stores", t0),
    ]
    schema = "doc_id long, text string, ts timestamp"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    all_docs = spark.createDataFrame(rows1 + rows2, schema)
    batch_pairs = {
        (r["doc_id_a"], r["doc_id_b"]) for r in neardup_stream(all_docs).collect()
    }
    truth = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.simhash_pairs(all_docs, n=3, max_hamming=3).collect()
    }
    assert batch_pairs == truth
    assert (1, 3) in batch_pairs

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        neardup_stream(stream)
        .writeStream.format("memory")
        .queryName("neardup_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in spark.sql("SELECT * FROM neardup_mem").collect()
    }
    assert streamed == batch_pairs


def test_neardup_stream_drops_short_docs(spark):
    """ADVICE r1: docs shorter than n words have an empty shingle set
    whose simhash degenerates to all-ones — every such doc would pair
    with every other at hamming 0. The batch operator excludes them;
    the stream path must too (batch-twin equality on short-doc data)."""
    import datetime

    from distributed_file_system_with_stream_processing_spark.operators import dedup as D
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        neardup_stream,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    docs = spark.createDataFrame(
        [(1, "hi", t0), (2, "ok", t0), (3, "no", t0), (4, "yo", t0)],
        "doc_id long, text string, ts timestamp",
    )
    pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in neardup_stream(docs).collect()}
    truth = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in D.simhash_pairs(docs, n=3, max_hamming=3).collect()
    }
    assert pairs == truth == set()


def test_join_streams_same_ts_column_name(spark, tmp_path):
    """ADVICE r1: when both streams name their event-time column 'ts'
    (the common case) the within-bound must stay bound to the LEFT
    frame — a by-name F.expr reference is ambiguous and used to raise
    AnalysisException."""
    import datetime
    import os

    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        join_streams,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    schema = "k long, ts timestamp"
    la, rb = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(la), os.makedirs(rb)
    spark.createDataFrame(
        [(1, t0), (2, t0)], schema
    ).coalesce(1).write.mode("append").parquet(la)
    spark.createDataFrame(
        [(1, t0 + datetime.timedelta(minutes=30)),  # within 1h of left 1
         (2, t0 + datetime.timedelta(hours=3))],    # outside the bound
        schema,
    ).coalesce(1).write.mode("append").parquet(rb)

    left = spark.readStream.schema(schema).parquet(la)
    right = spark.readStream.schema(schema).parquet(rb)
    joined = join_streams(left, right, key="k", left_ts="ts", right_ts="ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("js_same_ts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = [r["k"] for r in spark.sql("SELECT * FROM js_same_ts").collect()]
    assert got == [1]


def test_join_streams_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """leftOuter: unmatched left rows emit with null right columns once
    the watermark proves no match can arrive. Late advancer rows in
    BOTH streams (global watermark = min across inputs) push the
    watermark past t0+within so the t0 rows finalize."""
    import datetime
    import os

    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        join_streams,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    late = t0 + datetime.timedelta(hours=6)
    schema = "k long, ts timestamp"
    la, rb = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(la), os.makedirs(rb)
    spark.createDataFrame([(1, t0), (5, t0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(la)
    spark.createDataFrame(
        [(1, t0 + datetime.timedelta(minutes=30))], schema
    ).coalesce(1).write.mode("append").parquet(rb)
    # second files: watermark advancers (no partner within the bound)
    spark.createDataFrame([(98, late)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(la)
    spark.createDataFrame([(99, late)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(rb)

    left = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(la)
    right = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(rb)
    joined = join_streams(
        left, right, key="k", left_ts="ts", right_ts="ts",
        watermark="10 minutes", within="1 hour", how="leftOuter",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("js_louter")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM js_louter").collect()
    by_k = {}
    for r in rows:
        by_k.setdefault(r["k"], []).append(r)
    # columns: (k, left ts, right ts) — right ts is positional index 2
    assert 1 in by_k and by_k[1][0][2] is not None  # matched: right ts present
    assert 5 in by_k and by_k[5][0][2] is None  # unmatched: nulls after watermark


def test_streaming_doc_hygiene_twin(spark, tmp_path):
    """The LLM hygiene ops run unchanged as a STREAM: quality gate +
    exact-dedup over streamed document files must survive exactly the
    batch pipeline's surviving text-hash set (streaming dropDuplicates
    keeps first ARRIVAL, so parity is on the hash set, not doc ids)."""
    import os

    from distributed_file_system_with_stream_processing_spark.functions import text as T

    src = str(tmp_path / "docs")
    os.makedirs(src)
    schema = "doc_id long, text string, n_chars long"
    rows1 = [
        (1, "the quick brown fox jumps over the lazy dog " * 8, 352),
        (2, "the quick brown fox jumps over the lazy dog " * 8, 352),  # dup of 1
        (3, "tiny", 4),  # fails gate
    ]
    rows2 = [
        (4, "a wholly different document body with plenty of tokens " * 6, 330),
        (5, "the quick brown fox jumps over the lazy dog " * 8, 352),  # dup again
    ]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    def hygiene(df):
        gated = df.filter(
            (F.col("n_chars") >= 200) & (F.size(T.words(F.col("text"))) >= 30)
        )
        return gated.withColumn("_h", F.md5(T.norm_text(F.col("text")))).dropDuplicates(
            ["_h"]
        )

    batch_hashes = {
        r["_h"] for r in hygiene(spark.read.schema(schema).parquet(src)).collect()
    }

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        hygiene(stream)
        .writeStream.format("memory")
        .queryName("doc_hygiene")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT _h FROM doc_hygiene").collect()
    assert {r["_h"] for r in streamed} == batch_hashes
    assert len(streamed) == len(batch_hashes)  # dedup held across batches


def test_decontaminate_stream_matches_batch(spark, tmp_path):
    """decontaminate as a STREAM: training docs arrive in micro-batches
    and join a static broadcast eval set; at the availableNow boundary
    the per-doc hit counts must equal the batch plan over all files."""
    import os

    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        decontaminate_stream,
    )

    src = str(tmp_path / "train")
    os.makedirs(src)
    schema = "doc_id long, text string"
    ev = spark.createDataFrame(
        [(900, "alpha beta gamma delta epsilon zeta"), (901, "one two three four five six")],
        schema,
    )
    rows1 = [
        (1, "alpha beta gamma delta something else entirely here"),  # 2 shared 3-grams
        (2, "completely disjoint vocabulary with no overlap at all"),
    ]
    rows2 = [
        (3, "count one two three four five six seven"),  # shares eval 2's grams
        (4, "alpha beta gamma and also one two three"),
    ]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    batch = {
        (r["doc_id"], r["n_hit_ngrams"])
        for r in decontaminate_stream(
            spark.read.schema(schema).parquet(src), ev
        ).collect()
    }
    assert batch, "fixture produced no contamination hits"
    assert 2 not in {d for d, _ in batch}  # clean doc stays clean

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        decontaminate_stream(stream, ev)
        .writeStream.format("memory")
        .queryName("decon_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["n_hit_ngrams"])
        for r in spark.sql("SELECT * FROM decon_stream").collect()
    }
    assert streamed == batch


def test_fragment_dedup_stream_matches_batch(spark, tmp_path):
    """Fragment-level dedup as a STREAM: running (canonical, copies)
    per fragment hash at the availableNow boundary == the batch plan;
    also parity with plans.paragraph_dedup's shared columns when run
    over the same bounded input."""
    import os

    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        fragment_dedup_stream,
    )

    src = str(tmp_path / "docs")
    os.makedirs(src)
    schema = "doc_id long, text string"
    boiler = "all rights reserved contact us"  # >4 tokens → 2 frags, 1 shared window
    rows1 = [(1, f"unique leading words here {boiler}"), (2, f"other body text now {boiler}")]
    rows2 = [(3, f"third doc arrives later {boiler}"), (4, "nothing repeated in this one")]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    batch = {
        (r["frag_hash"], r["canonical_doc_id"], r["n_copies"])
        for r in fragment_dedup_stream(spark.read.schema(schema).parquet(src)).collect()
    }
    assert batch, "fixture planted no repeated fragments"

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        fragment_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("fragdedup_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["frag_hash"], r["canonical_doc_id"], r["n_copies"])
        for r in spark.sql("SELECT * FROM fragdedup_stream").collect()
    }
    assert streamed == batch


def test_winnow_stream_matches_batch(spark, tmp_path):
    """Winnowing fingerprints as a stateless STREAM (append mode, no
    watermark): the (doc_id, fp) rows across all micro-batches must
    equal the batch plan — and equal the registered
    doc_winnowing_fingerprint query on the same dir (same staged
    expressions by construction)."""
    import os

    from distributed_file_system_with_stream_processing_spark.plans.llm_ops2 import (
        doc_winnowing_fingerprint,
    )
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        winnow_stream,
    )

    src = str(tmp_path / "docs")
    os.makedirs(src)
    schema = "doc_id long, text string"
    boiler = "quick brown foxes jump over tall fences daily"
    rows1 = [(1, f"first document prefix {boiler} and a tail"), (2, "tiny doc")]
    rows2 = [(3, f"second arrival shares {boiler} exactly once more")]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    batch = {
        (r["doc_id"], r["fp"])
        for r in winnow_stream(spark.read.schema(schema).parquet(src)).collect()
    }
    assert batch
    # registered-plan parity (llm_ops2 reads <dir>/documents.parquet)
    os.symlink(src, str(tmp_path / "documents.parquet"))
    reg = {
        (r["doc_id"], r["fp"])
        for r in doc_winnowing_fingerprint(spark, str(tmp_path)).collect()
    }
    assert reg == batch

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        winnow_stream(stream)
        .writeStream.format("memory")
        .queryName("winnow_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["fp"])
        for r in spark.sql("SELECT * FROM winnow_stream").collect()
    }
    assert streamed == batch


def test_bm25_score_stream_matches_batch(spark, tmp_path):
    """Train-offline/score-online BM25: the model trained batch-side
    (bm25_train) embedded as literals must make the stateless stream
    scorer reproduce the registered docs_bm25_score bit-for-bit over
    bounded input."""
    import os

    from distributed_file_system_with_stream_processing_spark.plans import llm_ops3 as M
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        bm25_score_stream,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    model = M.bm25_train(docs)
    batch = {
        (r["doc_id"], r["n_hit_terms"], r["bm25"])
        for r in M.docs_bm25_score(spark, SF_SMOKE).collect()
    }
    assert batch

    src = str(tmp_path / "docs")
    docs.select("doc_id", "text").repartition(2).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        bm25_score_stream(stream, model)
        .writeStream.format("memory")
        .queryName("bm25_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["n_hit_terms"], r["bm25"])
        for r in spark.sql("SELECT * FROM bm25_stream").collect()
    }
    assert streamed == batch


def test_dsir_score_stream_matches_batch(spark, tmp_path):
    """Same split for DSIR: 256-entry log-ratio map trained batch-side
    (dsir_train), stream scoring is a per-row integer fold — exact
    parity with the registered dsir_importance_weights."""
    from distributed_file_system_with_stream_processing_spark.plans import llm_ops3 as M
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        dsir_score_stream,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    lr = M.dsir_train(docs)
    assert len(lr) == 256
    batch = {
        (r["doc_id"], r["n_tokens"], r["log_weight"])
        for r in M.dsir_importance_weights(spark, SF_SMOKE).collect()
    }
    assert batch

    src = str(tmp_path / "docs")
    docs.select("doc_id", "text").repartition(2).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        dsir_score_stream(stream, lr)
        .writeStream.format("memory")
        .queryName("dsir_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["n_tokens"], r["log_weight"])
        for r in spark.sql("SELECT * FROM dsir_stream").collect()
    }
    assert streamed == batch


def test_semdedup_gate_stream_matches_batch_recipe(spark, tmp_path):
    """Streaming SemDeDup gate: trained centroids as literals + a
    static persisted index; arriving vectors are flagged via two
    stateless stream-static joins (left_semi / left_anti). With
    index = the full table, the streamed output must equal the
    registered semantic_dedup_kmeans recipe exactly — cell, keep
    flag, every row."""
    from distributed_file_system_with_stream_processing_spark.operators import clustering as C
    from distributed_file_system_with_stream_processing_spark.plans import llm_ops3 as M
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = C.kmeans_fit(emb, k=M._SD_K, iters=M._SD_ITERS, dim=64)
    index = C.semdedup_prepare_index(emb, cents)

    expected = {
        (r["vec_id"], r["cluster"], r["keep"])
        for r in M.semantic_dedup_kmeans(spark, SF_SMOKE).collect()
    }
    assert expected and any(not k for (_, _, k) in expected)

    # batch parity of the gate itself
    got_batch = {
        (r["vec_id"], r["cluster"], r["keep"])
        for r in C.semdedup_gate(emb, cents, index, threshold=M._SD_THRESHOLD).collect()
    }
    assert got_batch == expected

    # stream parity: index persisted + re-read (the realistic static
    # side), vectors arrive as a file stream
    idx_path = str(tmp_path / "semdedup_index")
    index.write.parquet(idx_path)
    static_idx = spark.read.parquet(idx_path)
    src = str(tmp_path / "vecs")
    emb.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    q = (
        C.semdedup_gate(stream, cents, static_idx, threshold=M._SD_THRESHOLD)
        .writeStream.format("memory")
        .queryName("semdedup_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["vec_id"], r["cluster"], r["keep"])
        for r in spark.sql("SELECT * FROM semdedup_gate").collect()
    }
    assert streamed == expected


def test_semdedup_indexed_stream_incremental_index(spark, tmp_path):
    """Incremental SemDeDup: each micro-batch is gated against the
    persisted index AND upserted back into it, so later batches dedup
    against earlier arrivals. With id-ordered arrival the final result
    state must equal the batch semantic_dedup_kmeans recipe exactly;
    replaying the whole stream with a fresh checkpoint must leave the
    sinks unchanged (idempotent upserts = exactly-once)."""
    import time as _t

    from distributed_file_system_with_stream_processing_spark.operators import clustering as C
    from distributed_file_system_with_stream_processing_spark.plans import llm_ops3 as M
    from distributed_file_system_with_stream_processing_spark.sinks.upsert import KeyedUpsertSink
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        semdedup_indexed_stream,
    )
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = C.kmeans_fit(emb, k=M._SD_K, iters=M._SD_ITERS, dim=64)
    expected = {
        (r["vec_id"], r["cluster"], r["keep"])
        for r in M.semantic_dedup_kmeans(spark, SF_SMOKE).collect()
    }
    assert expected and any(not k for (_, _, k) in expected)

    # three id-ordered arrival batches (parity precondition), distinct
    # mtimes so maxFilesPerTrigger=1 replays them in arrival order
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    src = str(tmp_path / "vecs")
    for lo, hi in [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]:
        part = emb
        if lo is not None:
            part = part.filter(F.col("vec_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("vec_id") < hi)
        part.coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)

    index_sink = KeyedUpsertSink(str(tmp_path / "idx"), key="id", order_col="id")
    result_sink = KeyedUpsertSink(str(tmp_path / "res"), key="vec_id", order_col="vec_id")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = semdedup_indexed_stream(
        stream, cents, index_sink, result_sink,
        checkpoint_dir=str(tmp_path / "ckpt"), threshold=M._SD_THRESHOLD,
    )
    q.awaitTermination(180)

    got = {
        (r["vec_id"], r["cluster"], r["keep"])
        for r in result_sink.snapshot(spark).select("vec_id", "cluster", "keep").collect()
    }
    assert got == expected
    assert index_sink.snapshot(spark).count() == len(ids)

    # full replay with a fresh checkpoint: sinks must not change
    stream2 = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = semdedup_indexed_stream(
        stream2, cents, index_sink, result_sink,
        checkpoint_dir=str(tmp_path / "ckpt2"), threshold=M._SD_THRESHOLD,
    )
    q2.awaitTermination(180)
    got2 = {
        (r["vec_id"], r["cluster"], r["keep"])
        for r in result_sink.snapshot(spark).select("vec_id", "cluster", "keep").collect()
    }
    assert got2 == expected
    assert index_sink.snapshot(spark).count() == len(ids)


def test_semdedup_indexed_stream_unpersists_batch_when_a_sink_fails(spark, tmp_path):
    """A sink write that fails mid-batch must not leave the batch's
    prepared (persisted) vectors cached: the failing micro-batch ends
    with the same persistent RDDs it started with."""
    from pyspark.errors import StreamingQueryException

    from distributed_file_system_with_stream_processing_spark.sinks.upsert import KeyedUpsertSink
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        semdedup_indexed_stream,
    )
    from tests.conftest import SF_SMOKE

    class FailingSink:
        def apply_batch(self, df, batch_id):
            df.count()  # the prepared block is materialized by now
            raise RuntimeError("sink unavailable")

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(40)
    src = str(tmp_path / "vecs")
    emb.coalesce(1).write.parquet(src)
    cents = [[1.0] * 64, [-1.0] * 64]
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    q = semdedup_indexed_stream(
        spark.readStream.schema(emb.schema).parquet(src),
        cents,
        KeyedUpsertSink(str(tmp_path / "idx"), key="id", order_col="id"),
        FailingSink(),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert set(jsc.getPersistentRDDs().keys()) <= before


def test_bigram_ppl_stream_matches_batch(spark, tmp_path):
    """Streaming bigram-LM scoring against a persisted corpus-scale
    model table: state after streaming the corpus in two batches must
    equal the registered docs_bigram_perplexity output exactly, and a
    novel doc with unseen grams still scores over its known grams."""
    from distributed_file_system_with_stream_processing_spark.plans import llm_ops4 as M
    from distributed_file_system_with_stream_processing_spark.sinks.upsert import KeyedUpsertSink
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        bigram_ppl_stream,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    model_dir = str(tmp_path / "bigram_model")
    M.bigram_model(docs).write.parquet(model_dir)

    expected = {
        (r["doc_id"], r["n_bigrams"], r["bigram_ppl"])
        for r in M.docs_bigram_perplexity(spark, SF_SMOKE).collect()
    }
    assert expected

    src = str(tmp_path / "docs")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    docs.filter(F.col("doc_id") < mid).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.mode("append").parquet(src)

    sink = KeyedUpsertSink(str(tmp_path / "res"), key="doc_id", order_col="doc_id")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = bigram_ppl_stream(stream, model_dir, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["n_bigrams"], r["bigram_ppl"])
        for r in sink.snapshot(spark).select("doc_id", "n_bigrams", "bigram_ppl").collect()
    }
    assert got == expected

    # novel text: unseen grams drop, known grams still score (seed a
    # guaranteed-known gram by borrowing a corpus doc's leading pair)
    lead = " ".join(docs.select("text").first()["text"].split()[:2])
    novel = spark.createDataFrame(
        [(999999, f"{lead} zzzqqq xylophoneqq", "en", "novel", 1)],
        docs.schema,
    )
    scored = M.bigram_score(novel, spark.read.parquet(model_dir)).collect()
    assert len(scored) == 1 and scored[0]["n_bigrams"] >= 1


def test_cms_stream_equals_batch_sketch(spark, tmp_path):
    """Streaming CMS maintenance: after streaming the corpus in two
    micro-batches, the persisted (row, bucket, total) state must equal
    the batch-built sketch cell-for-cell (the sketch is linear, so
    incremental addition IS the merge), with state bounded at d·w."""
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        cms_bucket_array,
    )
    from distributed_file_system_with_stream_processing_spark.sinks.upsert import KeyedUpsertSink
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import cms_stream
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    expected = {
        (r["row"], r["bucket"], r["n"])
        for r in (
            docs.select(F.explode(T.words(F.col("text"))).alias("w"))
            .select(F.lower(F.col("w")).alias("term"))
            .select(F.explode(cms_bucket_array()).alias("rb"))
            .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    assert expected and len(expected) <= 4 * 1024

    src = str(tmp_path / "docs")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    docs.filter(F.col("doc_id") < mid).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.mode("append").parquet(src)

    sink = KeyedUpsertSink(str(tmp_path / "cms"), key="cell", order_col="total")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = cms_stream(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {
        (r["row"], r["bucket"], r["total"])
        for r in sink.snapshot(spark).select("row", "bucket", "total").collect()
    }
    assert got == expected


def test_substring_indexed_stream_matches_batch_novelty(spark, tmp_path):
    """Incremental exact-substring index: stream the corpus in three
    id-ordered batches; the final result state must equal the batch
    docs_substring_novelty output exactly, and a full replay with a
    fresh checkpoint must leave both sinks unchanged (min-ownership
    upserts are idempotent)."""
    import time as _t

    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        docs_substring_novelty,
    )
    from distributed_file_system_with_stream_processing_spark.sinks.upsert import KeyedUpsertSink
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        substring_indexed_stream,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    expected = {
        (r["doc_id"], r["n_windows"], r["n_dup_windows"], r["is_novel"])
        for r in docs_substring_novelty(spark, SF_SMOKE).collect()
    }
    assert expected and any(not nv for (_, _, _, nv) in expected)

    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    src = str(tmp_path / "docs")
    for lo, hi in [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]:
        part = docs
        if lo is not None:
            part = part.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        part.coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)

    index_sink = KeyedUpsertSink(str(tmp_path / "idx"), key="h", order_col="neg")
    result_sink = KeyedUpsertSink(str(tmp_path / "res"), key="doc_id", order_col="doc_id")
    for ckpt in ("ckpt", "ckpt2"):  # second pass = full replay
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = substring_indexed_stream(
            stream, index_sink, result_sink, checkpoint_dir=str(tmp_path / ckpt)
        )
        q.awaitTermination(180)
        got = {
            (r["doc_id"], r["n_windows"], r["n_dup_windows"], r["is_novel"])
            for r in result_sink.snapshot(spark)
            .select("doc_id", "n_windows", "n_dup_windows", "is_novel")
            .collect()
        }
        assert got == expected, ckpt


def test_bloom_gate_stream_matches_batch(spark, tmp_path):
    """Streaming Bloom decontamination gate (eval bits as literals,
    append mode, no state): the streamed (doc_id, n_hit_ngrams) rows
    across micro-batches must equal the batch decontaminate_bloom
    query on the same corpus."""
    import os

    from distributed_file_system_with_stream_processing_spark.plans.llm_ops5 import (
        bloom_bits,
        decontaminate_bloom,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        bloom_gate_stream,
    )
    from tests.conftest import SF_SMOKE

    bits = bloom_bits(spark, SF_SMOKE)
    batch = {
        (r["doc_id"], r["n_hit_ngrams"])
        for r in decontaminate_bloom(spark, SF_SMOKE).collect()
    }
    assert batch

    tr = load_table(spark, SF_SMOKE, "documents").filter("doc_id % 97 != 0")
    src = str(tmp_path / "docs")
    os.makedirs(src)
    tr.filter("doc_id % 2 = 0").select("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    tr.filter("doc_id % 2 = 1").select("doc_id", "text").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        bloom_gate_stream(stream, bits)
        .writeStream.format("memory")
        .queryName("bloom_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["n_hit_ngrams"])
        for r in spark.sql("SELECT * FROM bloom_gate").collect()
    }
    assert streamed == batch


def test_effective_tokens_stream_matches_batch_at_boundaries(spark, tmp_path):
    """The r5 streaming capstone: incremental dedup-aware corpus sizing
    over the TableStore CDC source. Docs arrive as TableStore appends;
    the stream maintains band-index / census / edge state and per-source
    totals. At EVERY availableNow boundary the streamed totals must
    equal the batch docs_effective_tokens recipe run on exactly the
    docs ingested so far — including across a compact_appends() fold
    between phases (the CDC exactly-once contract)."""
    from distributed_file_system_with_stream_processing_spark.operators import (
        dedup as D,
    )
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops6 import (
        effective_tokens_from_edges,
    )
    from distributed_file_system_with_stream_processing_spark.sinks.upsert import (
        KeyedUpsertSink,
    )
    from distributed_file_system_with_stream_processing_spark.sources.pyds import (
        TableStoreDataSource,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        effective_tokens_stream,
    )
    from tests.conftest import SF_SMOKE

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .limit(36)
        .collect()
    )
    slices = [docs[:12], docs[12:24], docs[24:]]
    schema = "doc_id long, source string, text string"

    store = TableStore(spark, str(tmp_path / "store"))
    # CDC streams APPENDS only — the base is empty by design (a real
    # consumer bootstraps the base via the batch reader / get_as_of)
    store.create("docs", spark.createDataFrame([], schema))
    spark.dataSource.register(TableStoreDataSource)

    sinks = {
        name: KeyedUpsertSink(str(tmp_path / name), key=key, order_col="_ord")
        for name, key in (
            ("index", "band_key"),
            ("census", "doc_id"),
            ("edges", "pair_key"),
            ("totals", "source"),
        )
    }

    def drain():
        q = effective_tokens_stream(
            spark.readStream.format("tablestore")
            .option("root", str(tmp_path / "store"))
            .option("table", "docs")
            .load(),
            index_sink=sinks["index"],
            census_sink=sinks["census"],
            edge_sink=sinks["edges"],
            totals_sink=sinks["totals"],
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(240)
        q.stop()

    def streamed():
        return sorted(
            (r["source"], r["n_docs"], r["n_tokens"], r["effective_tokens_mu"])
            for r in sinks["totals"]
            .snapshot(spark)
            .select("source", "n_docs", "n_tokens", "effective_tokens_mu")
            .collect()
        )

    def batch_expected(rows):
        d = spark.createDataFrame(rows, schema)
        pairs = D.minhash_lsh_pairs(d, n=3, num_hashes=12, bands=6)
        return sorted(
            (r["source"], r["n_docs"], r["n_tokens"], r["effective_tokens_mu"])
            for r in effective_tokens_from_edges(d, pairs).collect()
        )

    # phase 1: two appends drain as one window
    store.append("docs", spark.createDataFrame(slices[0], schema))
    store.append("docs", spark.createDataFrame(slices[1], schema))
    drain()
    assert streamed() == batch_expected(docs[:24])

    # phase 2: LSM fold between triggers + a fresh append — totals must
    # advance to the full corpus with no drop/double-count
    store.compact_appends("docs")
    store.append("docs", spark.createDataFrame(slices[2], schema))
    drain()
    assert streamed() == batch_expected(docs)


def test_ann_indexed_stream_matches_batch_recipe(spark, tmp_path):
    """Streaming indexed-ANN serving: vectors arrive in id-ordered
    micro-batches; each gets its top-k lower-id neighbors from the
    maintained cell-bucketed index (within-batch lower ids included).
    Final result state must equal the batch ivf_index_query over the
    full prepared set — the neighbor_id < query_id rule makes the
    answer independent of batch boundaries."""
    from pyspark.sql import functions as FN

    from distributed_file_system_with_stream_processing_spark.operators import (
        clustering as C,
    )
    from distributed_file_system_with_stream_processing_spark.sinks.upsert import (
        KeyedUpsertSink,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        ann_indexed_stream,
    )
    from tests.conftest import SF_SMOKE

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(120)
    )
    cents = C.kmeans_fit(emb, k=8, iters=2)
    rows = emb.collect()
    batches = [rows[:40], rows[40:80], rows[80:]]

    src = str(tmp_path / "src")
    index_sink = KeyedUpsertSink(str(tmp_path / "idx"), key="id", order_col="_ord")
    result_sink = KeyedUpsertSink(str(tmp_path / "res"), key="qr", order_col="_ord")
    schema = "vec_id long, embedding array<float>"

    def drain():
        q = ann_indexed_stream(
            spark.readStream.schema(schema).parquet(src),
            cents,
            index_sink=index_sink,
            result_sink=result_sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
            k=5,
            probe_cells=3,
        )
        q.awaitTermination(240)
        q.stop()

    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)
        drain()

    streamed = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in result_sink.snapshot(spark)
        .select("query_id", "rank", "neighbor_id", "sim")
        .collect()
    )
    full = spark.createDataFrame(rows, schema)
    expected = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in C.ivf_index_query(
            full, cents, C.ivf_index_prepare(full, cents), k=5, probe_cells=3
        ).collect()
    )
    assert streamed == expected and len(streamed) > 50
    # every neighbor strictly precedes its query in id order
    assert all(n < q for q, _, n, _ in streamed)


def test_store_to_store_pipeline_full_reference_loop(spark, tmp_path):
    """The reference's complete shape — source HyDFS file → op1
    (filter) → op2 (running counts) → results APPENDED to a dest
    HyDFS file — as one streaming query over the TableStore's own
    pluggable source (CDC reader) and sink (exactly-once appender):
    the dest table's append log IS the leader's printed update
    history, and per-key MAX(total) converges to the batch twin."""
    from distributed_file_system_with_stream_processing_spark.dfs import TableStore
    from distributed_file_system_with_stream_processing_spark.streaming import ops as O
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        RainStormJob,
    )

    root = str(tmp_path / "store")
    in_schema = "event_id long, event_type string, value double"
    out_schema = "event_type string, total long, delta long"
    store = TableStore(spark, root)
    store.create("src", spark.createDataFrame([], in_schema))
    store.create("dst", spark.createDataFrame([], out_schema))

    job = RainStormJob(
        O.TransformOp("op1", lambda df: df.filter(F.col("value") >= 10.0)),
        O.StatefulCountOp("op2", ["event_type"]),
    )

    def rows(start, n):
        cyc = ("click", "view", "purchase")
        return [(start + i, cyc[(start + i) % 3], float(start + i)) for i in range(n)]

    def drain():
        q = job.start_store_stream(
            spark, root, "src", "dst", str(tmp_path / "ckpt")
        )
        q.processAllAvailable()
        q.stop()

    store.append("src", spark.createDataFrame(rows(0, 30), in_schema))
    drain()
    # restart the query for the second window (state + sink dedup
    # both recover from the checkpoint)
    store.append("src", spark.createDataFrame(rows(30, 15), in_schema))
    drain()

    log = store.get("dst", with_seq=True).collect()
    finals = {}
    for r in log:
        finals[r["event_type"]] = max(finals.get(r["event_type"], 0), r["total"])
    batch = {
        r["event_type"]: r["total"]
        for r in job.run_batch(
            store.get("src").select("event_id", "event_type", "value")
        ).collect()
    }
    # value >= 10 keeps ids 10..44: 35 events, ~12 per type
    assert finals == batch and sum(batch.values()) == 35
    # the update log accumulated across BOTH windows (deltas sum to
    # the converged totals — nothing lost or double-appended)
    deltas = {}
    for r in log:
        deltas[r["event_type"]] = deltas.get(r["event_type"], 0) + r["delta"]
    assert deltas == finals
    # dest appends carry the stream writer's deterministic stamps
    assert all("-sb" in b for b in store._append_batches("dst"))
