"""BPE merge training: the Spark rule sequence must equal an
independent pure-Python BPE on the same word-frequency table, and
applying the rules must reconstruct every word exactly."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

from distributed_file_system_with_stream_processing_spark.operators import bpe as B
from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

N_MERGES = 6


def _py_bpe(wc: dict, n: int):
    syms = {w: list(w) for w in wc}
    out = []
    for rank in range(1, n + 1):
        pc = collections.Counter()
        for w, n_ in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n_
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        out.append((rank, a, b, a + b, cnt))
        for w in syms:
            s = syms[w]
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            syms[w] = ns
    return out, syms


def _word_counts(spark):
    wc = collections.Counter()
    for r in load_table(spark, SF_SMOKE, "documents").select("text").collect():
        for w in r["text"].split():
            wc[w.lower()] += 1
    return wc


def test_bpe_rules_match_python_reference(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    rules = B.bpe_train(docs, n_merges=N_MERGES)
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"]) for r in rules
    ]
    ref, _ = _py_bpe(_word_counts(spark), N_MERGES)
    assert got == ref and len(got) == N_MERGES


def test_bpe_train_batched_rule_sequence_parity_and_fewer_jobs(spark):
    """Batched trainer == sequential trainer rule-for-rule, in fewer
    driver-synchronized jobs. Exactness comes from the prefix rule
    (symbol-disjointness + triple-bound new-pair dominance); the job
    count proves the batching actually batched on natural text."""
    docs = load_table(spark, SF_SMOKE, "documents")
    seq = B.bpe_train(docs, n_merges=N_MERGES)
    batched, n_jobs = B.bpe_train_batched(docs, n_merges=N_MERGES, m_per_job=3)
    assert [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in batched
    ] == [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in seq
    ]
    assert len(batched) == N_MERGES
    # sequential = N_MERGES jobs; batching must beat it
    assert n_jobs < N_MERGES, n_jobs


def test_bpe_train_batched_adaptive_prefix_parity(spark):
    """m_per_job=None (adaptive: take the WHOLE exactness-compatible
    prefix each job) must stay rule-for-rule identical to the
    sequential trainer AND use no more jobs than the fixed m=3 batch —
    the point of removing the cap is strictly larger batches."""
    docs = load_table(spark, SF_SMOKE, "documents")
    seq = B.bpe_train(docs, n_merges=N_MERGES)
    adaptive, n_jobs_ad = B.bpe_train_batched(docs, n_merges=N_MERGES)
    _, n_jobs_m3 = B.bpe_train_batched(docs, n_merges=N_MERGES, m_per_job=3)
    key = lambda rs: [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"]) for r in rs
    ]
    assert key(adaptive) == key(seq)
    assert n_jobs_ad <= n_jobs_m3 < N_MERGES, (n_jobs_ad, n_jobs_m3)


def test_bpe_train_batched_reliable_checkpoint_conf(spark, tmp_path):
    """The per-job lineage truncation goes through ``plan_ckpt``, so
    ``spark.dfsp.reliableCheckpoint=true`` writes the checkpoint dir
    and the trained rules are unchanged."""
    docs = load_table(spark, SF_SMOKE, "documents")
    base, _ = B.bpe_train_batched(docs, n_merges=N_MERGES, m_per_job=3)
    ckpt = tmp_path / "bpe_ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    spark.conf.set("spark.dfsp.reliableCheckpoint", "true")
    try:
        reliable, _ = B.bpe_train_batched(docs, n_merges=N_MERGES, m_per_job=3)
    finally:
        spark.conf.unset("spark.dfsp.reliableCheckpoint")
    assert any(p.is_file() for p in ckpt.rglob("*")), "no checkpoint file written"
    assert reliable == base


def test_bpe_train_batched_adversarial_overlap_degrades_not_diverges(spark):
    """A corpus engineered so every top pair shares a symbol with the
    next ('aaaa...' chains): the batch must shrink to ~1 merge/job —
    sequential behavior — and STILL match the pure-Python reference,
    never emit a wrong rule."""
    rows = [("a" * 8 + " " + "ab" * 4,)] * 5 + [("ba" * 4,)] * 3
    docs = spark.createDataFrame(rows, "text string")
    batched, _ = B.bpe_train_batched(docs, n_merges=4, m_per_job=4)
    wc = collections.Counter()
    for (t,) in rows:
        for w in t.split():
            wc[w.lower()] += 1
    ref, _ = _py_bpe(wc, 4)
    assert [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in batched
    ] == ref


def test_bpe_train_batched_greedy_mode_deterministic_and_batches(spark):
    """exact_order=False (batch-greedy, the real-vocab-budget path):
    deterministic across runs, strictly fewer jobs than rules on
    natural text, and every rule is a (left, right) pair whose merged
    symbol is their concatenation with a positive exact batch-start
    count."""
    docs = load_table(spark, SF_SMOKE, "documents")
    a, jobs_a = B.bpe_train_batched(docs, n_merges=12, exact_order=False)
    b, jobs_b = B.bpe_train_batched(docs, n_merges=12, exact_order=False)
    key = lambda rs: [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"]) for r in rs
    ]
    assert key(a) == key(b) and jobs_a == jobs_b
    assert len(a) == 12 and jobs_a < 12, jobs_a
    assert all(r["merged"] == r["left"] + r["right"] and r["pair_count"] > 0 for r in a)


def test_bpe_train_batched_greedy_mode_m1_equals_sequential(spark):
    """Batch-greedy with m_per_job=1 is EXACT sequential BPE (every
    job takes the single global-top pair with exact counts) — the
    anchor proving the greedy path's counting/acceptance machinery
    deviates from sequential ONLY through batch width, never through
    wrong counts or ordering."""
    rows = [("a" * 8 + " " + "ab" * 4,)] * 5 + [("ba" * 4,)] * 3
    docs = spark.createDataFrame(rows, "text string")
    got, n_jobs = B.bpe_train_batched(
        docs, n_merges=4, m_per_job=1, exact_order=False
    )
    wc = collections.Counter()
    for (t,) in rows:
        for w in t.split():
            wc[w.lower()] += 1
    ref, _ = _py_bpe(wc, 4)
    assert [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in got
    ] == ref
    assert n_jobs == 4


def test_bpe_apply_reconstructs_words_and_matches_reference(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    rules = B.bpe_train(docs, n_merges=N_MERGES)
    applied = B.bpe_apply(docs, rules)
    # every word must be the concatenation of its tokens
    bad = applied.filter(
        F.concat_ws("", F.col("tokens")) != F.col("word")
    ).count()
    assert bad == 0
    # and the token sequences must equal the reference's final symbols
    _, ref_syms = _py_bpe(_word_counts(spark), N_MERGES)
    got = {r["word"]: list(r["tokens"]) for r in applied.collect()}
    assert got == ref_syms


def test_bpe_merge_pair_fold_is_left_to_right_nonoverlapping(spark):
    """'aaa' with rule (a,a) → [aa, a]; 'abab' with (a,b) → [ab, ab]."""
    df = spark.createDataFrame([("aaa",), ("abab",)], "word string")
    out = {
        r["word"]: list(r["m"])
        for r in df.select(
            "word",
            B.merge_pair(B.chars_of(F.col("word")), "a", "a").alias("m"),
        ).collect()
    }
    assert out["aaa"] == ["aa", "a"]
    out2 = {
        r["word"]: list(r["m"])
        for r in df.select(
            "word",
            B.merge_pair(B.chars_of(F.col("word")), "a", "b").alias("m"),
        ).collect()
    }
    assert out2["abab"] == ["ab", "ab"]


def test_bpe_tokenize_topk_counts_match_reference(spark):
    """The registered apply-side query's token frequencies must equal
    the Python reference's (sum of word counts per final symbol)."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        _BPE_MERGES,
        bpe_tokenize_topk,
    )

    wc = _word_counts(spark)
    _, syms = _py_bpe(wc, _BPE_MERGES)
    ref = collections.Counter()
    for w, n in wc.items():
        for t in syms[w]:
            ref[t] += n
    want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [(r["token"], r["cnt"]) for r in bpe_tokenize_topk(spark, SF_SMOKE).collect()]
    assert got == want


def test_bpe_per_lang_equals_single_lang_trainer_per_slice(spark):
    """The FUSED per-language trainer (one pair-count job per
    iteration across all languages) must produce, for EVERY language,
    exactly the rule sequence the single-language trainer learns on
    that language's slice alone — fusion is an execution detail, not a
    semantics change. (bpe_train itself is pinned against pure-Python
    BPE above, so transitively each language matches the reference.)"""
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    fused = B.bpe_train_per_lang(docs, n_merges=4)
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    assert set(fused) == set(langs)
    for lang in langs:
        solo = B.bpe_train(docs.filter(F.col("lang") == lang), n_merges=4)
        assert fused[lang] == solo, lang


def test_bpe_tokenize_stream_matches_batch(spark, tmp_path):
    """Streaming BPE application (train-offline/apply-online): rules
    trained batch-side and baked in as literals must tokenize a
    document stream identically to the batch word-table apply — for
    every (doc, word position), the streamed token array equals
    bpe_apply's array for that word, across micro-batch arrivals."""
    import os

    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
        bpe_tokenize_stream,
    )

    src = str(tmp_path / "docs")
    os.makedirs(src)
    schema = "doc_id long, text string"
    rows1 = [(1, "the lower newest lowest"), (2, "wider widest low lower")]
    rows2 = [(3, "newer the newest low")]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    all_docs = spark.read.schema(schema).parquet(src)
    rules = B.bpe_train(all_docs, n_merges=5)

    batch = {
        (r["doc_id"], r["pos"]): (r["word"], tuple(r["tokens"]))
        for r in bpe_tokenize_stream(all_docs, rules).collect()
    }
    assert batch
    # per-word parity with the batch word-table apply
    by_word = {r["word"]: tuple(r["tokens"]) for r in B.bpe_apply(all_docs, rules).collect()}
    for (doc_id, pos), (word, toks) in batch.items():
        assert toks == by_word[word], (doc_id, pos, word)
    # token concatenation reconstructs each word
    assert all("".join(t) == w for (_, _), (w, t) in batch.items())

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        bpe_tokenize_stream(stream, rules)
        .writeStream.format("memory")
        .queryName("bpe_tok_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["pos"]): (r["word"], tuple(r["tokens"]))
        for r in spark.sql("SELECT * FROM bpe_tok_stream").collect()
    }
    assert streamed == batch


def test_bpe_compression_curve_exact_and_monotone(spark):
    """The fused one-scan curve must equal the Python reference's
    weighted token totals at EVERY merge depth, and be monotone
    non-increasing (a merge can only shrink token counts)."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops5 import (
        bpe_compression_curve,
    )

    wc = _word_counts(spark)
    got = {
        r["n_merges"]: (r["total_tokens"], r["tokens_per_word"])
        for r in bpe_compression_curve(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(range(9))
    n_words = sum(wc.values())
    for k in range(9):
        _, syms = _py_bpe(wc, k)
        total = sum(len(s) * n for w, n in wc.items() for s in [syms[w]])
        assert got[k][0] == total, (k, got[k][0], total)
        assert got[k][1] == round(total / n_words, 6)
    totals = [got[k][0] for k in range(9)]
    assert all(a >= b for a, b in zip(totals, totals[1:]))


def test_bpe_fertility_by_lang_exact(spark):
    """Per-language fertility dashboard: both columns must equal the
    Python reference — own = per-lang BPE on the lang's word counts,
    global = corpus BPE applied to the same words."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops5 import (
        bpe_fertility_by_lang,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    wc_by_lang: dict[str, collections.Counter] = {}
    wc_all = collections.Counter()
    for r in docs.select("lang", "text").collect():
        for w in r["text"].split():
            wc_by_lang.setdefault(r["lang"], collections.Counter())[w.lower()] += 1
            wc_all[w.lower()] += 1

    _, glob_syms = _py_bpe(wc_all, 4)
    got = {
        r["lang"]: (r["n_words"], r["tpw_own_vocab"], r["tpw_global_vocab"])
        for r in bpe_fertility_by_lang(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(wc_by_lang)
    for lang, wc in wc_by_lang.items():
        n_words = sum(wc.values())
        _, own_syms = _py_bpe(wc, 4)
        t_own = sum(len(own_syms[w]) * n for w, n in wc.items())
        t_glob = sum(len(glob_syms[w]) * n for w, n in wc.items())
        assert got[lang] == (
            n_words,
            (t_own * 1000000) // n_words / 1e6,
            (t_glob * 1000000) // n_words / 1e6,
        ), lang
