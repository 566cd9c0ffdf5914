"""RainStormJob — the reference's 3-stage pipeline on Structured
Streaming.

Reference architecture → Spark mapping (reference rainstorm/rainstorm.go):

| Reference                                   | Here                        |
| ---                                         | ---                         |
| leader partitions source into line ranges   | source partitioning (file   |
| (rainstorm.go:104-144)                      | splits / micro-batches)     |
| stage-1 batching, BATCH_SIZE=5 (:307-355)   | micro-batch trigger         |
| stage-2 exec(op1) per batch (:357-450)      | op1 as DataFrame rewrite    |
| stage-3 exec(op2) per batch (:452-519)      | op2 rewrite / stateful agg  |
| leader batch-ID dedup = exactly-once        | checkpoint + idempotent     |
| (:537-575, UploadedBatchLineNumbers)        | sink (engine-managed)       |
| running AggregateCounts printed per batch   | update-mode streaming agg   |
| reroute batch on worker failure (:340-352)  | task retry / state recovery |
| dest-file append of results (:566)          | TableStore.append sink      |

The same (op1, op2) pair runs identically in batch (``run_batch``) and
streaming (``start_stream``) — Spark's unified API is what the
reference approximates with its "bounded file, streamed in batches"
design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from distributed_file_system_with_stream_processing_spark.streaming.ops import (
    AggregateOp,
    Op,
    StatefulCountOp,
    TransformOp,
    WindowedCountOp,
)


# Recommended micro-batch sizing (r9 verdict item 6, measured in
# STREAM_BENCH.json): per-trigger overhead is a CONSTANT (~0.1-0.8 s of
# planning + state-store commit per micro-batch), so throughput is
# rows-per-trigger bound — the same stateful pipeline moved 11.7k →
# 67.6k rows/s when trigger batches grew from 10k-row files consumed
# one-at-a-time to one 50k-row batch. Deployments should size triggers
# so each micro-batch carries at least this many rows (via
# maxFilesPerTrigger × file size, maxBytesPerTrigger, or a processing-
# time trigger long enough to accumulate them); going below it spends
# most of the wall on trigger overhead, not data.
RECOMMENDED_MIN_ROWS_PER_TRIGGER = 50_000


class RainStormJob:
    """Compose op1 → op2 over a bounded or unbounded source.

    num_tasks (the reference's partition count) maps to the shuffle
    partition setting already on the session; at 100 TB you size it to
    the cluster, not the job code.
    """

    def __init__(self, op1: Op, op2: Op):
        self.op1 = op1
        self.op2 = op2

    # -- batch twin -------------------------------------------------------

    def run_batch(self, source: DataFrame) -> DataFrame:
        """One-shot execution (the reference's whole job is bounded)."""
        return self.op2(self.op1(source))

    # -- streaming --------------------------------------------------------

    def start_stream(
        self,
        spark: SparkSession,
        source_dir: str,
        schema,
        checkpoint_dir: str,
        sink_dir: str | None = None,
        query_name: str = "rainstorm",
        max_files_per_trigger: int | None = None,
    ) -> StreamingQuery:
        """Stream parquet files from ``source_dir`` through op1→op2.

        - Transform op2 → append-mode parquet sink (exactly-once via
          checkpoint + file-sink manifest — replacing the reference's
          manual batch-ID dedup).
        - Aggregate op2 → update-mode in-memory sink named
          ``query_name`` (the leader's running-counts view; a real
          deployment would foreachBatch-upsert to a store).

        Trigger sizing: leave ``max_files_per_trigger`` at None (consume
        everything available per trigger) unless you need paced
        backfill; if you do bound it, size so each micro-batch carries
        ≥ ``RECOMMENDED_MIN_ROWS_PER_TRIGGER`` rows — per-trigger
        overhead is constant, so smaller batches cost ~5× throughput
        (measured, STREAM_BENCH.json).
        """
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        src = reader.parquet(source_dir)
        out = self.op2(self.op1(src))

        if isinstance(self.op2, StatefulCountOp):
            # update log to a memory table: every emitted (key, total,
            # delta) row is one reference-style "printed update"
            return (
                out.writeStream.queryName(query_name)
                .outputMode("update")
                .format("memory")
                .option("checkpointLocation", checkpoint_dir)
                .start()
            )
        if isinstance(self.op2, WindowedCountOp):
            if sink_dir is None:
                raise ValueError("windowed pipeline needs a sink_dir")
            # append mode: a window row is emitted once, when the
            # watermark closes it — late data past the watermark drops
            return (
                out.writeStream.queryName(query_name)
                .outputMode("append")
                .format("parquet")
                .option("path", sink_dir)
                .option("checkpointLocation", checkpoint_dir)
                .start()
            )
        if isinstance(self.op2, AggregateOp):
            return (
                out.writeStream.queryName(query_name)
                .outputMode("complete")
                .format("memory")
                .option("checkpointLocation", checkpoint_dir)
                .start()
            )
        if sink_dir is None:
            raise ValueError("transform pipeline needs a sink_dir")
        return (
            out.writeStream.queryName(query_name)
            .outputMode("append")
            .format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )

    def start_store_stream(
        self,
        spark: SparkSession,
        store_root: str,
        source_table: str,
        dest_table: str,
        checkpoint_dir: str,
        query_name: str = "rainstorm_store",
    ) -> StreamingQuery:
        """The reference's full END-TO-END loop: source HyDFS file →
        3-stage pipeline → append results to a dest HyDFS file
        (rainstorm.go:104-144 reads the HyDFS source, :537-575 appends
        each deduped batch's results to the dest) — as one Structured
        Streaming query over the TableStore's own pluggable source and
        sink: CDC-read the source table's append log
        (sources/pyds.py streamReader), run op1 → op2, and publish
        each micro-batch's results into the dest table's append log
        exactly once (streamWriter's dedup-by-batchId).

        Transform op2 → append mode (each result row lands once);
        StatefulCountOp op2 → operator-append mode: the per-trigger
        (key, total, delta) rows ARE the reference leader's printed
        updates, appended to the dest log in trigger order — reading
        the dest table back replays the update history, and the
        per-key MAX(total) is the converged aggregate.

        Both tables must exist (reference `create` precedes the job);
        the dest's base fixes the OUTPUT schema.
        """
        from distributed_file_system_with_stream_processing_spark.sources.pyds import (
            TableStoreDataSource,
        )

        try:
            spark.dataSource.register(TableStoreDataSource)
        except Exception:  # noqa: BLE001 — already registered is fine
            pass
        import dataclasses

        src = (
            spark.readStream.format("tablestore")
            .option("root", store_root)
            .option("table", source_table)
            .load()
            .drop("_append_seq")
        )
        # The tablestore sink is an append log — run the stateful op
        # in operator-append mode (identical emitted rows; see
        # StatefulCountOp.mode).
        op2 = (
            dataclasses.replace(self.op2, mode="append")
            if isinstance(self.op2, StatefulCountOp)
            else self.op2
        )
        out = op2(self.op1(src))
        return (
            out.writeStream.queryName(query_name)
            .outputMode("append")
            .format("tablestore")
            .option("root", store_root)
            .option("table", dest_table)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )


def join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    within: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: match rows sharing ``key`` whose event
    times are within ``within`` of each other. Both sides carry
    watermarks so the join state is BOUNDED — Spark buffers only rows
    younger than (watermark + within), the 100 TB requirement for an
    unbounded two-stream correlation. (The reference has no two-stream
    operator; this extends its single-pipeline model.)

    ``how='leftOuter'`` additionally emits unmatched LEFT rows with
    null right columns — but only once the watermark proves no match
    can still arrive (the time-bound condition is what makes outer
    results finalizable at all; an unbounded outer stream join would
    hold every row forever)."""
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"how must be inner|leftOuter, got {how!r}")
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        # keep the bound anchored to the LEFT frame's column: a by-name
        # F.expr reference is ambiguous when both streams use the same
        # timestamp column name (the common case)
        & (r[right_ts] <= l[left_ts] + F.expr(f"interval {within}"))
    )
    return l.join(r, cond, how).drop(r[key])


def neardup_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    within: str = "1 hour",
    n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """Streaming near-duplicate detection — the unbounded twin of
    operators/dedup.simhash_pairs (distributed streaming set-similarity
    join, as in the ICDE'20 line of work).

    Per-document simhash is a pure column expression
    (functions.text.simhash32), so it runs inline in each micro-batch —
    no stateful signature pass. The signature is banded into
    ``max_hamming + 1`` chunks (pigeonhole: any pair within the hamming
    budget collides on >= 1 chunk), candidates come from a
    stream-stream SELF-join on (chunk, value) with BOTH sides
    watermarked and the match time-bounded by ``within`` — so join
    state holds only (watermark + within) of banded signatures, the
    bounded-state requirement for an unbounded stream. Exact hamming
    verification runs on candidates only; multi-chunk collisions are
    collapsed by watermark-scoped pair dedup.

    Works identically on a bounded DataFrame (batch twin: watermarks
    are no-ops, dedup is plain dropDuplicates) — tested equal to the
    batch simhash_pairs result.
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T

    chunks = max_hamming + 1
    bits = 32 // chunks
    # Docs shorter than n words have an EMPTY shingle set, whose simhash
    # degenerates to all-ones (every bit-balance is 0 and 0 >= 0 sets the
    # bit) — all such docs would pair with each other at hamming 0.
    # Exclude them before signing, matching the batch operator's
    # explode_outer + isNotNull exclusion (operators/dedup.py), so the
    # documented batch-twin equality holds on short-doc streams.
    sig = (
        docs.select(
            F.col(id_col).alias("id"),
            F.col(ts_col).alias("ts"),
            T.shingles(F.col(text_col), n).alias("_shingles"),
        )
        .where(F.size("_shingles") > 0)
        .select("id", "ts", T.simhash32(F.col("_shingles")).alias("simhash"))
    )
    banded = sig.select(
        "id",
        "ts",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(chunks - 1))).alias("chunk"),
    ).withColumn(
        "val",
        (F.col("simhash") / F.pow(F.lit(2.0), F.col("chunk") * bits)).cast("long")
        % F.lit(2**bits),
    )
    if docs.isStreaming:
        a = banded.withWatermark("ts", watermark)
        b = banded.withWatermark("ts", watermark)
    else:
        a = b = banded
    l = a.select(
        F.col("id").alias("doc_id_a"),
        F.col("ts").alias("ts_a"),
        F.col("simhash").alias("sh_a"),
        F.col("chunk").alias("chunk_a"),
        F.col("val").alias("val_a"),
    )
    r = b.select(
        F.col("id").alias("doc_id_b"),
        F.col("ts").alias("ts_b"),
        F.col("simhash").alias("sh_b"),
        F.col("chunk").alias("chunk_b"),
        F.col("val").alias("val_b"),
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    pairs = (
        l.join(
            r,
            (F.col("chunk_a") == F.col("chunk_b"))
            & (F.col("val_a") == F.col("val_b"))
            & (F.col("doc_id_a") < F.col("doc_id_b"))
            & (F.col("ts_b") >= F.col("ts_a") - F.expr(f"interval {within}"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr(f"interval {within}")),
        )
        .filter(hamming <= max_hamming)
        .select("doc_id_a", "doc_id_b", "ts_a", hamming.alias("hamming"))
    )
    if docs.isStreaming:
        return pairs.dropDuplicatesWithinWatermark(["doc_id_a", "doc_id_b"])
    return pairs.dropDuplicates(["doc_id_a", "doc_id_b"])


def decontaminate_stream(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Streaming twin of ``plans.llm_ops.decontaminate_ngram``: flag
    arriving training docs that share >= 1 distinct n-gram with a
    STATIC eval set.

    The 100 TB stream shape is identical to batch: the eval side is
    benchmark-scale, distinct-reduced once and broadcast into every
    micro-batch (stream-static join needs no state); the only
    streaming state is the per-doc hit-count aggregation, emitted in
    update/complete mode. Bounded inputs run the exact batch plan —
    tested equal at micro-batch boundaries in
    tests/test_rainstorm_streaming.py.
    """
    from pyspark.sql.functions import broadcast

    from distributed_file_system_with_stream_processing_spark.operators import dedup as D

    ev_sh = D._exploded_shingles(eval_docs, id_col, text_col, n).select("s").distinct()
    tr_sh = D._exploded_shingles(train_docs, id_col, text_col, n)
    return (
        tr_sh.join(broadcast(ev_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )


def fragment_dedup_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 4,
) -> DataFrame:
    """Streaming twin of ``plans.llm_ops.paragraph_dedup``: fragment
    arriving docs into ``w``-token windows, hash, and maintain running
    (canonical doc, copy count) per fragment hash.

    Exact ``countDistinct`` is unsupported in streaming aggregation
    (it needs per-group distinct state Spark won't hold), so the
    stream twin reports (frag_hash, canonical_doc_id, n_copies) — the
    dedup DECISION columns — and drops the batch op's diagnostic
    ``n_docs``; parity with batch is asserted on the shared columns.
    min() and count() are running-mergeable, so complete/update-mode
    results at any micro-batch boundary equal the batch plan over the
    data seen so far.
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T

    ws = T.words(F.col(text_col))
    chunks = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(ws) / F.lit(float(w))).cast("int") - 1),
        lambda i: F.array_join(F.slice(ws, i * w + 1, w), " "),
    )
    frags = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode_outer(chunks).alias("frag"))
        .filter(F.col("frag").isNotNull() & (F.col("frag") != ""))
        .select("doc_id", F.md5(F.col("frag")).alias("frag_hash"))
    )
    return (
        frags.groupBy("frag_hash")
        .agg(
            F.min("doc_id").cast("long").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def bm25_score_stream(docs: DataFrame, model: dict) -> DataFrame:
    """Stateless stream scorer for the train-offline/score-online BM25
    split: ``plans.llm_ops3.bm25_train`` collects the metadata-scale
    model (|Q| idf doubles + avgdl) batch-side; this embeds it as
    LITERALS so scoring each arriving doc is a pure per-row column
    expression — append mode, no state store, no join (the
    centroids-as-literals stance applied to retrieval scoring).

    Arithmetic is the batch query's exactly: per-term contribution in
    the same operation order on repr-round-tripped doubles, micro-
    quantized, integer-summed — so bounded inputs reproduce
    ``docs_bm25_score`` bit-for-bit (tested at micro-batch
    boundaries). Docs with zero query-term hits are not emitted,
    matching batch.
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T

    k1, b, micro = model["k1"], model["b"], model["micro"]
    avgdl = model["avgdl"]
    ws = T.words(F.col("text"))
    staged = docs.select("doc_id", ws.alias("ws")).select(
        "doc_id",
        F.size("ws").alias("dl"),
        F.transform(F.col("ws"), lambda w: F.lower(w)).alias("wl"),
    )
    # NB: the lambda must be single-arg — PySpark dispatches on lambda
    # arity, and a captured-default second parameter turns it into the
    # (element, index) form with the index bound in its place
    def _tf(term: str):
        return F.size(F.filter(F.col("wl"), lambda w: w == F.lit(term)))

    c_mu_cols, hit_cols = [], []
    for term, idf in sorted(model["idf"].items()):
        tf = _tf(term)
        contrib = (
            F.lit(idf)
            * (tf * (k1 + 1.0))
            / (tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
        )
        c_mu_cols.append(
            F.when(tf > 0, F.round(contrib * micro).cast("long")).otherwise(F.lit(0).cast("long"))
        )
        hit_cols.append(F.when(tf > 0, 1).otherwise(0))
    s = c_mu_cols[0]
    for c in c_mu_cols[1:]:
        s = s + c
    n_hit = hit_cols[0]
    for c in hit_cols[1:]:
        n_hit = n_hit + c
    return (
        staged.select(
            "doc_id",
            n_hit.cast("long").alias("n_hit_terms"),
            F.round(s.cast("double") / micro, 6).alias("bm25"),
        )
        .filter(F.col("n_hit_terms") > 0)
    )


def dsir_score_stream(
    docs: DataFrame, lr_mu: dict[int, int], buckets: int = 256, micro: int = 1_000_000
) -> DataFrame:
    """Stateless stream scorer for DSIR importance weights:
    ``plans.llm_ops3.dsir_train`` collects the 256-entry
    {bucket: lr_mu} table; this embeds it as ONE map literal and
    scores each arriving doc with a per-row integer fold — append
    mode, no state, no join. Integer addition is associative, so
    bounded inputs reproduce ``dsir_importance_weights`` bit-for-bit
    regardless of the batch plan's aggregation grouping (tested at
    micro-batch boundaries). Empty docs are not emitted, matching
    batch."""
    from distributed_file_system_with_stream_processing_spark.functions import text as T

    map_lit = F.expr(
        "map(" + ",".join(f"{b}L,{lr_mu[b]}L" for b in sorted(lr_mu)) + ")"
    )
    ws = T.words(F.col("text"))
    staged = docs.select("doc_id", ws.alias("ws")).select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.col("ws"),
                lambda w: F.element_at(map_lit, T.hash32(F.lower(w)) % buckets),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("_s"),
    )
    return (
        staged.filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("_s").cast("double") / micro, 6).alias("log_weight"),
        )
    )


def winnow_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Streaming twin of ``plans.llm_ops2.doc_winnowing_fingerprint``:
    winnowing fingerprints for arriving documents, exploded to
    (doc_id, fp) rows ready for a fingerprint equi-join against an
    index. COMPLETELY STATELESS — the fingerprint set is a per-row
    column expression (functions.text.gram_hashes +
    winnow_from_hashes, the same staged expressions as batch), so it
    runs in append mode with no watermark and no state store; the
    downstream match-against-index is a stream-static or
    stream-stream join, the caller's choice. Bounded inputs run the
    exact batch plan — parity tested at micro-batch boundaries.
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T

    staged = (
        docs.select(F.col(id_col).alias("doc_id"), T.words(F.col(text_col)).alias("ws"))
        .select("doc_id", T.gram_hashes(F.col("ws"), k).alias("hs"))
        .select("doc_id", T.winnow_from_hashes(F.col("hs"), w).alias("fps"))
    )
    return (
        staged.select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def bloom_gate_stream(
    docs: DataFrame,
    bloom_bits: dict[int, list[int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Streaming BLOOM decontamination gate — the stateless-probe twin
    of ``plans.llm_ops5.decontaminate_bloom``: the eval set's Bloom
    bit positions (built batch-side, metadata at ANY eval size) bake
    in as per-hash-row ARRAY LITERALS, so each arriving doc's
    contaminated-shingle count is a pure column expression — a
    size(filter(shingles, all-k-bits-set)) fold with the portable
    affine hash family inline. Append mode, no state store, no join
    (the bm25/dsir/logreg score-stream stance; at production bit
    counts the literal array probe becomes a broadcast join or a
    bitmap UDF — the semantics are identical).

    Emits (doc_id, n_hit_ngrams) for docs with ≥1 hit — row-for-row
    equal to the batch query on bounded input (same hash family, same
    distinct-shingle counting), pinned at availableNow boundaries in
    tests/test_rainstorm_streaming.py."""
    from functools import reduce as _reduce

    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops5 import (
        _BLOOM_K,
        _BLOOM_M,
    )

    # cast pins the element type: with an empty eval set a hash row's
    # list is [], and an untyped F.lit([]) breaks array_contains at
    # analysis — cast('array<bigint>') keeps the gate total (matches
    # nothing) instead of unanalyzable
    lits = {
        k: F.lit(sorted(bloom_bits.get(k, []))).cast("array<bigint>")
        for k in range(_BLOOM_K)
    }

    def hit(s):
        conds = []
        for k in range(_BLOOM_K):
            a, b = T.mh_params(100 + k)
            pos = (
                (F.lit(a) * T.hash32(s) + F.lit(b))
                % F.lit(T.MINHASH_PRIME)
                % F.lit(_BLOOM_M)
            )
            conds.append(F.array_contains(lits[k], pos))
        return _reduce(lambda x, y: x & y, conds)

    staged = docs.select(
        F.col(id_col).alias("doc_id"), T.shingles(F.col(text_col), n).alias("sh")
    )
    return (
        staged.select(
            "doc_id",
            F.size(F.filter(F.col("sh"), hit)).cast("long").alias("n_hit_ngrams"),
        )
        .filter(F.col("n_hit_ngrams") > 0)
    )


def logreg_score_stream(
    emb: DataFrame,
    w: list[float],
    b: float,
    label_col: str = "label",
    positive_below: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stateless stream scorer for the train-offline/score-online
    logistic-regression split: weights trained batch-side
    (operators/logreg.logreg_fit) embed as literals, so scoring each
    arriving vector is a pure per-row column expression — append
    mode, no state store, no join (the bm25/dsir score-stream
    stance). Delegates to the BATCH scorer's own builder, so parity
    with ``embedding_logreg_score`` is by construction — pinned at
    micro-batch boundaries in tests/test_logreg.py."""
    from distributed_file_system_with_stream_processing_spark.operators import logreg as L

    return L.logreg_score(
        emb, w, b,
        label_col=label_col,
        positive_below=positive_below,
        id_col=id_col,
        vec_col=vec_col,
    )


def bpe_tokenize_stream(
    docs: DataFrame,
    rules: list[dict],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming BPE application: tokenize arriving documents with a
    batch-trained rule sequence — the train-offline/apply-online shape
    (same stance as bm25_score_stream / dsir_score_stream: the model
    is metadata-scale driver state baked in as literals, so scoring is
    a stateless per-row expression — append mode, no state store, no
    join). Output is one row per word position:
    (doc_id, pos, word, tokens array) — the token stream a downstream
    packer / counter consumes.

    Parity: the fold kernel is operators/bpe.py tokenize_words — the
    IDENTICAL expression tree the batch word-table apply composes — so
    for any bounded input the per-word token arrays equal
    ``bpe_apply``'s, proven at availableNow boundaries in
    tests/test_bpe.py."""
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.operators import bpe as B

    ws = F.transform(T.words(F.col(text_col)), lambda w: F.lower(w))
    ex = (
        docs.select(F.col(id_col).alias("doc_id"), F.posexplode_outer(ws))
        .filter(F.col("col").isNotNull())
        .select("doc_id", F.col("pos").alias("pos"), F.col("col").alias("word"))
    )
    return ex.select(
        "doc_id", "pos", "word", B.tokenize_words(F.col("word"), rules).alias("tokens")
    )


def semdedup_indexed_stream(
    vec_stream: DataFrame,
    cents: list[list[float]],
    index_sink,
    result_sink,
    checkpoint_dir: str,
    threshold: float = 0.35,
):
    """Streaming SemDeDup with INCREMENTAL index maintenance — the
    online version of the full recipe: each micro-batch is gated
    against the duplicate index AND appended back into it, so later
    arrivals dedup against everything that has already streamed
    through, not just an offline snapshot.

    Per micro-batch (foreachBatch):
      1. prepare the batch (trained-centroid cell assignment + hoisted
         norm — pure column math, operators/clustering.py
         semdedup_prepare_index);
      2. probe = current index snapshot ∪ the batch itself, so
         WITHIN-batch duplicates are caught by the same ``ib < id``
         strict inequality that orders cross-batch pairs;
      3. gate verdicts (vec_id, cluster, keep) upsert into
         ``result_sink``; the prepared batch upserts into
         ``index_sink`` (both KeyedUpsertSink — idempotent merge, so
         foreachBatch's at-least-once replay is exactly-once end to
         end REGARDLESS of where a crash lands: replaying step 3
         re-derives the same verdicts because the probe's semi-join
         semantics are insensitive to the batch's own rows already
         being indexed, and the upserts are no-ops on identical rows).

    Parity: when ids are non-decreasing across batches (any order
    within a batch), the final ``result_sink`` state equals the batch
    ``semdedup_kmeans`` recipe row-for-row — the lower-id-wins rule
    needs every lower id indexed (or co-arriving) by the time a vector
    is gated.

    100 TB shape: the index is hash-bucketed parquet (the upsert
    sink's layout); a micro-batch reads only its own cells' candidates
    through the cluster equi-join, and the index rewrite touches only
    the buckets the batch's ids hash into.
    """
    from distributed_file_system_with_stream_processing_spark.operators import clustering as C

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prepared = C.semdedup_prepare_index(batch_df, cents)
        prepared.persist()
        try:
            idx = index_sink.snapshot(spark).select("id", "v", "cluster", "nrm")
            probe = idx.unionByName(prepared.select("id", "v", "cluster", "nrm"))
        except FileNotFoundError:
            probe = prepared.select("id", "v", "cluster", "nrm")
        verdicts = C.semdedup_gate(batch_df, cents, probe, threshold=threshold)
        result_sink.apply_batch(verdicts, batch_id)
        index_sink.apply_batch(prepared.select("id", "v", "cluster", "nrm"), batch_id)
        prepared.unpersist()

    return (
        vec_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def bigram_ppl_stream(
    doc_stream: DataFrame,
    model_dir: str,
    result_sink,
    checkpoint_dir: str,
):
    """Score-online against a PERSISTED corpus-scale bigram LM — the
    third point on the train-offline/score-online spectrum: BM25/DSIR
    stream scorers embed their metadata-scale models as literals
    (stateless per-row expressions); the bigram LM has one row per
    corpus bigram, far past any broadcast, so arriving documents JOIN
    the parquet model table (plans.llm_ops4.bigram_model) instead.

    foreachBatch runs the registered batch scoring plan
    (plans.llm_ops4.bigram_score) per micro-batch: explode grams →
    equi-join the model on gram → per-doc exact integer log-prob sum.
    Documents are row-atomic in the stream, so the per-batch
    groupBy(doc_id) is exact with NO cross-batch state; verdicts
    upsert through a KeyedUpsertSink (idempotent merge → exactly-once
    under at-least-once replay). Scoring the training corpus is
    bit-identical to docs_bigram_perplexity; novel text scores over
    its known grams (the inner join drops unseen ones — documented in
    bigram_score).

    100 TB shape: the model join is gram-keyed (high cardinality —
    spreads); only the micro-batch's grams shuffle. With the model
    bucketed on gram the join co-locates and the batch side alone
    moves.
    """
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import bigram_score

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        model = spark.read.parquet(model_dir)
        result_sink.apply_batch(bigram_score(batch_df, model), batch_id)

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cms_stream(
    doc_stream: DataFrame,
    result_sink,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Incremental count-min-sketch maintenance — the streaming twin
    of the batch CMS in plans.llm_ops4.token_freq_countmin: arriving
    documents' tokens fold into the running d×w bucket counts, so the
    persisted sketch always equals the batch CMS of everything
    ingested (the sketch is linear — per-batch addition IS the merge).

    State design: tokens explode STATELESSLY; the only stateful piece
    is the (row, bucket) running-count aggregation, whose state is
    BOUNDED at d·w rows (4096 here) no matter how many petabytes
    stream through — the entire point of a sketch as the frequency
    store. Update-mode emissions carry the new running totals; the
    KeyedUpsertSink keyed on the (row, bucket) cell with the monotone
    total as order_col makes replay idempotent (a re-emitted total
    overwrites itself).
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        cms_bucket_array,
    )

    cells = (
        doc_stream.select(F.explode_outer(T.words(F.col(text_col))).alias("w"))
        .filter(F.col("w").isNotNull())
        .select(F.lower(F.col("w")).alias("term"))
        .select(F.explode(cms_bucket_array()).alias("rb"))
        .select(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("total"))
        .select(
            F.concat_ws("|", F.col("row"), F.col("bucket")).alias("cell"),
            "row",
            "bucket",
            "total",
        )
    )
    return (
        cells.writeStream.foreachBatch(result_sink.writer())
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def substring_indexed_stream(
    doc_stream: DataFrame,
    index_sink,
    result_sink,
    checkpoint_dir: str,
):
    """Streaming exact-substring novelty with INCREMENTAL index
    maintenance — the text twin of ``semdedup_indexed_stream``: each
    arriving document's 16-token window hashes probe the persisted
    (window → first-owner) index AND fold back into it, so later
    arrivals are judged against everything already streamed.

    Per micro-batch (foreachBatch):
      1. distinct (doc_id, h) window hashes (the batch query's
         backbone, plans.llm_ops4._window_hashes);
      2. probe = index snapshot ∪ the batch itself — within-batch
         duplicates resolve through the same min(doc_id) ownership
         rule as cross-batch ones;
      3. verdicts (doc_id, n_windows, n_dup_windows, is_novel) upsert
         into ``result_sink``; the batch's (h, doc_id) pairs upsert
         into ``index_sink`` with order_col = −doc_id so the retained
         owner per window is always the MINIMUM doc id (idempotent —
         replaying a batch can't move a min).

    Parity: with ids non-decreasing across batches the final result
    state equals the batch ``docs_substring_novelty`` row-for-row.

    100 TB shape: the index is hash-bucketed parquet keyed on the
    window hash; a batch rewrites only the buckets its windows hash
    into, and the probe is an equi-join on h.
    """
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        _window_hashes,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = _window_hashes(batch_df)
        w.persist()
        try:
            try:
                idx = index_sink.snapshot(spark).select("h", "doc_id")
                probe = idx.unionByName(w.select("h", "doc_id"))
            except FileNotFoundError:
                probe = w.select("h", "doc_id")
            mh = probe.groupBy("h").agg(F.min("doc_id").alias("first_id"))
            verdicts = (
                w.join(mh, "h")
                .groupBy("doc_id")
                .agg(
                    F.count(F.lit(1)).alias("n_windows"),
                    F.sum(
                        F.when(F.col("first_id") < F.col("doc_id"), 1).otherwise(0)
                    ).alias("n_dup_windows"),
                )
                .select(
                    "doc_id",
                    "n_windows",
                    "n_dup_windows",
                    (F.col("n_dup_windows") == 0).alias("is_novel"),
                )
            )
            result_sink.apply_batch(verdicts, batch_id)
            index_sink.apply_batch(
                w.select("h", "doc_id", (-F.col("doc_id")).alias("neg")), batch_id
            )
        finally:
            w.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def effective_tokens_totals(spark: SparkSession, edge_sink, census_sink) -> DataFrame:
    """Current dedup-aware per-source sizing from the maintained CDC
    state: CC over the accumulated LSH edge set + the doc census,
    through the SAME core as the registered batch query
    (plans/llm_ops6.effective_tokens_from_edges) — so streamed totals
    equal the batch ``docs_effective_tokens`` on the docs ingested so
    far, exactly (pinned in tests/test_rainstorm_streaming.py).

    The census keeps the ``text`` column so the totals pass re-derives
    n_tok through the shared batch core (equality by construction).
    At 100 TB a deployment drops ``text`` from the census and sums the
    stored ``n_tok`` instead — the per-batch upsert already computes
    it; the only cost is maintaining the (trivial) sum formula in two
    places instead of one."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops6 import (
        effective_tokens_from_edges,
    )

    census = census_sink.snapshot(spark).select("doc_id", "source", "n_tok", "text")
    try:
        edges = edge_sink.snapshot(spark).select("a", "b")
    except FileNotFoundError:
        edges = spark.createDataFrame([], "a long, b long")
    return effective_tokens_from_edges(
        census.drop("n_tok"), edges, src="a", dst="b"
    )


def effective_tokens_stream(
    doc_stream: DataFrame,
    index_sink,
    census_sink,
    edge_sink,
    totals_sink,
    checkpoint_dir: str,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
) -> StreamingQuery:
    """INCREMENTAL dedup-aware corpus sizing over the TableStore CDC
    stream — the streaming capstone composing two proven backbones:
    the ``tablestore`` streaming DataSource (sources/pyds.py: each
    micro-batch is exactly the new append window) and
    ``docs_effective_tokens`` (plans/llm_ops6.py). After every
    micro-batch, ``totals_sink`` holds the per-source
    (n_docs, n_tokens, effective_tokens_mu) for EVERYTHING ingested so
    far, equal to re-running the batch query on the accumulated docs.

    Per micro-batch (foreachBatch):
      1. band the batch's docs (operators/dedup.minhash_banded — the
         code path the batch query's ``minhash_lsh_pairs`` self-joins,
         so streamed candidate edges ≡ batch candidate edges by
         construction);
      2. probe = band index snapshot ∪ the batch's own bands: every
         pair whose LATER doc is in this batch is discovered here, so
         the union over batches is the full batch pair set — new
         edges upsert into ``edge_sink`` canonicalized
         (least, greatest) under a "a|b" pair key (idempotent);
      3. the batch's (doc_id, source, n_tok, text) rows upsert into
         ``census_sink``, its bands into ``index_sink`` (both
         idempotent — foreachBatch's at-least-once replay re-derives
         identical rows, so the pipeline is exactly-once end to end);
      4. refreshed totals (effective_tokens_totals: CC over the
         accumulated component-scale edge set + per-source integer
         rollup) upsert into ``totals_sink`` keyed by source.

    100 TB shape: steps 1-3 touch ONLY the micro-batch (banding is a
    per-doc map + one doc_id shuffle; the probe join reads the
    bucket-aligned index through a (band, key) equi-join); step 4 is
    CC on the accumulated EDGE table — component-scale, orders of
    magnitude below corpus-scale, the same economics as the batch
    query where LSH banding (linear) dominates and CC runs on the
    collision graph. A deployment that only needs totals on demand
    drops step 4 from the loop and calls ``effective_tokens_totals``
    when asked.
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.operators import dedup as D

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select("doc_id", "source", "text")
        banded = D.minhash_banded(
            batch, n=n, num_hashes=num_hashes, bands=bands
        ).select("doc_id", "band", "key")
        banded.persist()
        try:
            try:
                idx = index_sink.snapshot(spark).select("doc_id", "band", "key")
                probe = idx.unionByName(banded)
            except FileNotFoundError:
                probe = banded
            x, y = banded.alias("x"), probe.alias("y")
            edges = (
                x.join(
                    y,
                    (F.col("x.band") == F.col("y.band"))
                    & (F.col("x.key") == F.col("y.key"))
                    & (F.col("x.doc_id") != F.col("y.doc_id")),
                )
                .select(
                    F.least("x.doc_id", "y.doc_id").alias("a"),
                    F.greatest("x.doc_id", "y.doc_id").alias("b"),
                )
                .distinct()
                .select(
                    F.concat_ws("|", "a", "b").alias("pair_key"),
                    "a",
                    "b",
                    F.lit(batch_id).alias("_ord"),
                )
            )
            edge_sink.apply_batch(edges, batch_id)
            census = batch.select(
                "doc_id",
                "source",
                F.size(T.words(F.col("text"))).cast("long").alias("n_tok"),
                "text",
                F.lit(batch_id).alias("_ord"),
            )
            census_sink.apply_batch(census, batch_id)
            index_sink.apply_batch(
                banded.select(
                    F.concat_ws("|", "doc_id", "band").alias("band_key"),
                    "doc_id",
                    "band",
                    "key",
                    F.lit(batch_id).alias("_ord"),
                ),
                batch_id,
            )
            totals = effective_tokens_totals(spark, edge_sink, census_sink)
            totals_sink.apply_batch(
                totals.withColumn("_ord", F.lit(batch_id)), batch_id
            )
        finally:
            banded.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def ann_indexed_stream(
    vec_stream: DataFrame,
    cents: list[list[float]],
    index_sink,
    result_sink,
    checkpoint_dir: str,
    k: int = 5,
    probe_cells: int = 3,
) -> StreamingQuery:
    """Streaming indexed ANN serving — the RETRIEVAL twin of
    ``semdedup_indexed_stream``'s train-offline/serve-online stance:
    centroids train offline (operators/clustering.kmeans_fit); each
    arriving vector is BOTH a query (top-``k`` cosine neighbors among
    everything already indexed, probing ``probe_cells`` trained
    cells) and an index addition (its cell-assigned row upserts into
    the cell-bucketed index for every later arrival to probe).

    Per micro-batch (foreachBatch):
      1. prepare the batch (argmin cell assignment — pure map,
         operators/clustering.ivf_index_prepare);
      2. probe = index snapshot ∪ the prepared batch, so WITHIN-batch
         lower-id neighbors are visible (the semdedup probe rule);
      3. results (query_id, neighbor_id, sim, rank) upsert under a
         ``query_id|rank`` key; the prepared batch upserts into the
         index — both idempotent, so at-least-once replay is
         exactly-once end to end.

    Parity (pinned in tests): with ids non-decreasing across batches,
    the final result state equals the batch
    ``clustering.ivf_index_query`` over the full prepared set —
    the ``neighbor_id < query_id`` predicate makes the answer a pure
    function of the id set, not of batch boundaries.

    100 TB shape: per batch, one pure-map assignment + one cell
    equi-join probing only the batch's cells (micro-batch side
    broadcast) + a per-query top-k window; the index rewrite touches
    only the buckets the batch's ids hash into (KeyedUpsertSink).
    """
    from distributed_file_system_with_stream_processing_spark.operators import (
        clustering as C,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prepared = C.ivf_index_prepare(batch_df, cents)
        prepared.persist()
        try:
            try:
                idx = index_sink.snapshot(spark).select("id", "v", "cell")
                probe = idx.unionByName(prepared.select("id", "v", "cell"))
            except FileNotFoundError:
                probe = prepared.select("id", "v", "cell")
            results = C.ivf_index_query(
                batch_df, cents, probe, k=k, probe_cells=probe_cells
            ).select(
                F.concat_ws("|", "query_id", "rank").alias("qr"),
                "query_id",
                "neighbor_id",
                "sim",
                "rank",
                F.lit(batch_id).alias("_ord"),
            )
            result_sink.apply_batch(results, batch_id)
            index_sink.apply_batch(
                prepared.select("id", "v", "cell", F.lit(batch_id).alias("_ord")),
                batch_id,
            )
        finally:
            prepared.unpersist()

    return (
        vec_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
