"""Training-data curation queries, sixth LLM-pipeline module (round 4).

Same contract as ``llm_ops``…``llm_ops5``: declarative DataFrame
plans (JVM expressions only), each with a DuckDB oracle mirroring the
exact arithmetic so value hashes match without tolerances.

Ops here (all oracled):
- ``neardup_communities`` — deterministic synchronous label
  propagation (Raghavan et al. 2007) over the MinHash-LSH near-dup
  graph: the community-detection complement of ``dedup_clusters``'s
  connected components (bounded-hop majority membership vs any-path
  reachability). Oracle: the shared MinHash pair CTE chained into 3
  unrolled LPA rounds.
- ``neardup_degree_stats`` / ``neardup_triangle_stats`` /
  ``neardup_khop_reach`` — the rest of the dup-graph toolbox: degree
  histogram, Suri-Vassilvitskii degree-ordered triangle census with
  global clustering coefficient, and bounded-BFS contamination-blast-
  radius from a seed set (recursive-CTE oracle).
- ``bigram_pmi_topk`` — Church-Hanks collocation mining, integer
  micro-quantized PMI, min-count cut before the vocab joins.
- ``embedding_quantization_error`` — int8 reconstruction error in
  exact pico-units (zero-shuffle scan; audits ann_quantized_topk).
- ``embedding_margin_stats`` — intra/inter-label mean dot via the
  ‖Σv‖² sum identity: the quadratic pair statistic in O(n).
- ``embedding_knn_classvote`` — kNN label-vote embedding-quality
  eval chaining the proven cosine top-k.
- ``ngram_coverage_curve`` — top-k token-mass coverage (vocabulary
  budget diagnostic).
- ``events_decayed_value`` — recency-weighted engagement score,
  per-event micro-quantized λᵏ contributions.
- ``docs_ttr_profile`` — type-token lexical diversity.
- ``lang_source_contingency`` — lang×source chi-square composition
  audit with per-cell micro-quantized contributions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_file_system_with_stream_processing_spark.operators._util import (
    plan_ckpt as _plan_ckpt,
)
from distributed_file_system_with_stream_processing_spark.operators import dedup as D
from distributed_file_system_with_stream_processing_spark.plans.llm_ops import (
    _MINHASH_PAIRS_BODY,
)
from distributed_file_system_with_stream_processing_spark.plans.llm_ops import (
    _DOT as _ANN_DOT,
)
from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
    _BIGRAMS,
    _TOKS_L,
)
from distributed_file_system_with_stream_processing_spark.sources.tables import load_table

_LPA_ROUNDS = 3


def neardup_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup COMMUNITIES via deterministic synchronous label
    propagation over the MinHash-LSH candidate pairs —
    ``dedup_clusters``'s complement: CC fuses anything connected by
    ANY path (a 10k-doc chain of pairwise near-dups becomes one
    cluster), while ``_LPA_ROUNDS`` LPA rounds bound the membership
    horizon, so only docs whose duplicate signal has majority support
    within 3 hops share a community — the granularity a dedup-rate
    audit wants when boilerplate chains would otherwise glue
    unrelated sources into one mega-cluster.

    Exactness: synchronous rounds + self-loop vote + (count desc,
    label asc) tie-break make the result a pure function of the edge
    set (see operators/dedup.label_propagation); the oracle unrolls
    the identical rounds as CTEs, bit-for-bit.

    100 TB shape: LSH pair generation is the bucketed backbone shared
    with dedup_minhash_lsh; the symmetrized edge list is pair-scale
    and rides the size-gated broadcast; each round is two
    map-side-partial shuffles (vote count, per-node argmax). Rounds
    are a fixed constant — no convergence loop, no driver iteration
    count that scales with data.
    """
    pairs = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=3, num_hashes=12, bands=6
    )
    lpa = D.label_propagation(pairs, n_rounds=_LPA_ROUNDS)
    return lpa.select(
        F.col("node").alias("doc_id"), F.col("community").alias("community")
    )


def _lpa_rounds_sql(n: int) -> str:
    parts = []
    for t in range(1, n + 1):
        parts.append(
            f"""
v{t} AS (
    SELECT f.a AS node, l.lab AS lab, count(*) AS c
    FROM full_e f JOIN lab{t - 1} l ON f.b = l.node
    GROUP BY f.a, l.lab
),
lab{t} AS (
    SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lab ASC) AS rn
        FROM v{t}) WHERE rn = 1
)"""
        )
    return ",".join(parts)


NEARDUP_COMMUNITIES_SQL = (
    _MINHASH_PAIRS_BODY
    + f""",
e AS (SELECT DISTINCT least(da, db) AS a, greatest(da, db) AS b FROM cand WHERE da <> db),
sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
nodes AS (SELECT DISTINCT a AS node FROM sym),
full_e AS (SELECT a, b FROM sym UNION ALL SELECT node AS a, node AS b FROM nodes),
lab0 AS (SELECT node, node AS lab FROM nodes),
{_lpa_rounds_sql(_LPA_ROUNDS)}
SELECT node AS doc_id, lab AS community FROM lab{_LPA_ROUNDS}
"""
)


# ---------------------------------------------------------------------------
# neardup_degree_stats

NEARDUP_DEGREE_SQL = (
    _MINHASH_PAIRS_BODY
    + """,
e AS (SELECT DISTINCT least(da, db) AS a, greatest(da, db) AS b FROM cand WHERE da <> db),
sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
deg AS (SELECT a AS node, count(*) AS degree FROM sym GROUP BY a)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(count(*) AS BIGINT) AS n_docs
FROM deg GROUP BY degree
"""
)


def neardup_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup graph: (degree, n_docs) — the
    graph-shape diagnostic read BEFORE choosing a clustering: a
    heavy-tailed degree distribution (boilerplate hub docs touching
    thousands of near-dups) says CC will chain everything together and
    LPA/star-capping is needed; a flat low-degree profile says plain
    CC is safe. Exact integer counts end to end.

    100 TB shape: the LSH pair backbone + one pair-scale groupBy
    (degree per node) + one ~tiny groupBy (histogram). The corpus
    table itself never reshuffles beyond the shared LSH pass.
    """
    pairs = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=3, num_hashes=12, bands=6
    )
    # r10 optimization: the symmetrization references `e` twice and
    # per-branch pruning defeats AQE stage reuse, so the corpus-scale
    # LSH banding self-join ran twice per invocation (19 stages / 177
    # tasks measured). Checkpointing the pair-scale edge list — the
    # r9 pagerank-edges stance — runs it once.
    e = (
        pairs.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(_plan_ckpt)
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# bigram_pmi_topk

_PMI_MIN_COUNT = 5
_PMI_MICRO = 1_000_000
_PMI_K = 100


def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-``_PMI_K`` corpus bigrams by pointwise
    mutual information pmi(a,b) = ln(p(ab) / (p(a)·p(b))) with a
    min-count floor (Church & Hanks 1990) — the phrase/term-of-art
    detector a tokenizer-vocab or stop-phrase pipeline runs over a new
    corpus; high-PMI pairs are multiword units, low-PMI frequent pairs
    are boilerplate glue.

    Exactness: all counts are exact integers; the PMI ratio is ONE
    fixed double sequence ``c_ab·N·N / N_bg / c_a / c_b`` evaluated
    left-to-right identically in both engines, its log micro-quantizes
    once to ``pmi_mu`` (BIGINT), and the top-k orders by the integer
    (pmi_mu desc, gram asc) — float-free hash, deterministic
    k-boundary.

    100 TB shape: the (doc, gram) partial-agg backbone shared with
    docs_bigram_perplexity [shuffle 1] → corpus gram counts [shuffle
    2] with the min-count filter applied BEFORE the unigram joins
    (vocab-scale tail cut early); two term-keyed joins hang the
    unigram counts on each gram [shuffles 3-4, vocab-scale]; the two
    1-row totals ride a broadcast; top-k plans as
    TakeOrderedAndProject (per-partition heaps, k rows to driver).
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.operators._util import spread
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        _bigram_tf,
    )
    from pyspark.sql.functions import broadcast

    d = spread(load_table(spark, sf_dir, "documents"))
    bg = _bigram_tf(d)
    # r10 optimization (the r9 model-table stance): cbg feeds the n_bg
    # total AND the enriched join; uni feeds the n_uni total AND two
    # term joins. Per-branch pruning defeats AQE stage reuse, so each
    # corpus explode re-ran per consumer (40 stages / 10 Exchanges
    # measured). Checkpointing the two vocab-scale count tables runs
    # each corpus pass exactly once per invocation.
    cbg = (
        bg.groupBy("gram").agg(F.sum("tf").alias("c_ab")).transform(_plan_ckpt)
    )
    toks = d.select("doc_id", T.words(F.col("text")).alias("ws"))
    uni = (
        toks.select(F.explode_outer("ws").alias("w"))
        .filter(F.col("w").isNotNull())
        .select(F.lower(F.col("w")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(_plan_ckpt)
    )
    totals = cbg.agg(F.sum("c_ab").alias("n_bg")).crossJoin(
        uni.agg(F.sum("cnt").alias("n_uni"))
    )
    enriched = (
        cbg.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .withColumn("u", F.substring_index("gram", " ", 1))
        .withColumn("v", F.substring_index("gram", " ", -1))
        .join(uni.select(F.col("term").alias("u"), F.col("cnt").alias("c_a")), "u")
        .join(uni.select(F.col("term").alias("v"), F.col("cnt").alias("c_b")), "v")
        .crossJoin(broadcast(totals))
    )
    ratio = (
        F.col("c_ab").cast("double")
        * F.col("n_uni")
        * F.col("n_uni")
        / F.col("n_bg")
        / F.col("c_a")
        / F.col("c_b")
    )
    pmi_mu = F.round(F.log(ratio) * _PMI_MICRO).cast("long")
    return (
        enriched.select("gram", "c_ab", pmi_mu.alias("pmi_mu"))
        .orderBy(F.desc("pmi_mu"), F.asc("gram"))
        .limit(_PMI_K)
    )


BIGRAM_PMI_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_L} AS ws FROM documents),
ex AS (SELECT doc_id, unnest({_BIGRAMS}) AS gram FROM toks),
bg AS (SELECT doc_id, gram, count(*) AS tf FROM ex GROUP BY doc_id, gram),
cbg AS (SELECT gram, sum(tf) AS c_ab FROM bg GROUP BY gram),
uni AS (
    SELECT term, count(*) AS cnt FROM (SELECT lower(unnest(ws)) AS term FROM toks)
    GROUP BY term
),
totals AS (
    SELECT (SELECT sum(tf) FROM bg) AS n_bg,
           (SELECT sum(cnt) FROM uni) AS n_uni
),
enr AS (
    SELECT c.gram, c.c_ab, ua.cnt AS c_a, ub.cnt AS c_b, t.n_bg, t.n_uni
    FROM cbg c
    JOIN uni ua ON split_part(c.gram, ' ', 1) = ua.term
    JOIN uni ub ON split_part(c.gram, ' ', 2) = ub.term
    CROSS JOIN totals t
    WHERE c.c_ab >= {_PMI_MIN_COUNT}
)
SELECT gram, CAST(c_ab AS BIGINT) AS c_ab,
       -- ok-round: irrational (ln) quantization
       CAST(round(ln(CAST(c_ab AS DOUBLE) * n_uni * n_uni / n_bg / c_a / c_b)
                  * {_PMI_MICRO}) AS BIGINT) AS pmi_mu
FROM enr
ORDER BY pmi_mu DESC, gram ASC
LIMIT {_PMI_K}
"""


# ---------------------------------------------------------------------------
# embedding_quantization_error

_QE_PICO = 1_000_000_000_000


def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 symmetric-quantization reconstruction error —
    the acceptance audit for the int8 ANN path (ann_quantized_topk
    compresses vectors to int8 with per-vector scale s = max|x|/127;
    this query measures exactly what that costs): err = Σ_i (x_i −
    -- ok-round: algorithmic round-to-nearest (quantizer definition)
    round(x_i/s)·s)², reported in exact pico-units so the value hash
    is float-free.

    Exactness: s is one exact division; each dim's reconstruction
    -- ok-round: algorithmic round-to-nearest (quantizer definition)
    delta is the fixed sequence x − round(x/s)·s; its square
    quantizes ONCE to pico-units (BIGINT) and the per-vector
    reduction is an exact integer sum. All-zero vectors (s = 0) short-
    circuit to err = 0 in both engines instead of dividing by zero.

    100 TB shape: a pure scan→project — zero shuffles, zero joins;
    the whole thing rides whole-stage codegen over the embedding
    array column.
    """
    from distributed_file_system_with_stream_processing_spark.functions import vector as V

    e = load_table(spark, sf_dir, "embeddings")
    # Hoist the per-vector scale into its own projection: expressions
    # inside transform/aggregate lambdas get NO common-subexpression
    # elimination, so an inline `s` would re-run the O(dim) array_max
    # per ELEMENT — O(dim²) per row (measured 3.5 s vs ~0.4 s hoisted
    # at sf0.1). Same trick for the reconstruction delta: build the
    # delta array first so the squared term references a plain element.
    base = e.select("vec_id", V.as_double(F.col("embedding")).alias("v")).withColumn(
        "mx", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    ).withColumn("s", F.col("mx") / F.lit(127.0))
    deltas = F.transform(
        # ok-round: algorithmic round-to-nearest (quantizer definition)
        F.col("v"), lambda x: x - F.round(x / F.col("s")) * F.col("s")
    )
    err = F.aggregate(
        deltas,
        F.lit(0).cast("long"),
        lambda acc, d: acc + F.round(d * d * F.lit(float(_QE_PICO))).cast("long"),
    )
    return base.select(
        "vec_id",
        F.when(F.col("mx") == 0.0, F.lit(0).cast("long"))
        .otherwise(err)
        .alias("err_pico"),
    )


EMBEDDING_QUANT_ERR_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e)
SELECT vec_id,
       CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(list_sum(list_transform(v, x ->
                 -- ok-round: algorithmic round-to-nearest (quantizer)
                 CAST(round((x - round(x / (mx / 127.0)) * (mx / 127.0))
                            -- ok-round: algorithmic round-to-nearest (quantizer)
                            * (x - round(x / (mx / 127.0)) * (mx / 127.0))
                            * {float(_QE_PICO)}) AS BIGINT))) AS BIGINT)
       END AS err_pico
FROM m
"""


# ---------------------------------------------------------------------------
# embedding_margin_stats

_EM_MICRO = 1_000_000
_EM_MICRO2 = float(_EM_MICRO) * float(_EM_MICRO)


def embedding_margin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-learning QA: per label, the MEAN intra-label dot product
    vs the MEAN inter-label dot product — the separation margin a
    contrastive/classifier pipeline wants to see before trusting the
    embedding space. The naive computation is quadratic (all pairs);
    this plan answers it EXACTLY in O(n) via the sum identity:

        Σ_{i≠j∈L} <v_i, v_j> = ‖S_L‖² − Σ_{i∈L} ‖v_i‖²
        Σ_{i∈L, j∉L} <v_i, v_j> = <S_L, S_total − S_L>

    with S_L the per-label component-sum vector — the same
    centroid-is-metadata stance as the k-means family, and the classic
    example of a pair statistic that never needs a pair join.

    Exactness: components micro-quantize once; per-dim label sums are
    exact BIGINTs (documented bound: |s_d| < 2⁶³ up to ~10¹² vectors);
    their squares/cross-products go through DECIMAL(19,0)×DECIMAL →
    DECIMAL(38,0) (Spark) ↔ HUGEINT (DuckDB), both exact; the two
    final means divide the exact numerator once, identically.

    100 TB shape: ONE corpus-scale shuffle — the (label, dim)
    partial-agg after a ×dim posexplode (map-side combine collapses it
    to labels×dim rows per partition); everything after is
    metadata-scale (labels×dim table). No pair join exists anywhere.
    """
    from distributed_file_system_with_stream_processing_spark.functions import vector as V
    from distributed_file_system_with_stream_processing_spark.operators._util import spread
    from pyspark.sql.functions import broadcast

    e = spread(load_table(spark, sf_dir, "embeddings"))
    q = lambda x: F.round(x * _EM_MICRO).cast("long")
    v = V.as_double(F.col("embedding"))
    mu = F.transform(v, q)
    base = e.select(F.col("label").cast("long").alias("label"), mu.alias("m"))
    # r10 optimization: `base` used to carry a per-vector Σm² lambda
    # and feed THREE consumers (per-label fold, dims posexplode, n_all
    # fold) — per-branch pruning defeats AQE stage reuse, so the
    # corpus-scale quantize pass ran three times. Now ONE posexplode
    # aggregation folds Σc, Σc² and the vector count per (label, pos) —
    # identical exact integers, since Σ_vec(Σ_d c²) ≡ Σ_(vec,d) c² —
    # and every later table derives from the METADATA-scale
    # (labels×dim) checkpoint. One corpus pass instead of three at any
    # scale. The explode is outer, so a null or empty vector keeps one
    # row at a null pos: each vector is counted once, at pos 0 or at
    # the null pos, as the oracle's count(*) counts it.
    dec = lambda c: F.col(c).cast("decimal(19,0)")
    pos = F.col("pos")
    dims = (
        base.select("label", F.posexplode_outer("m").alias("pos", "c"))
        .groupBy("label", "pos")
        .agg(
            F.sum("c").alias("s_d"),
            F.sum(dec("c") * dec("c")).alias("ss_d"),
            F.count_if((pos == 0) | pos.isNull()).alias("nv"),
        )
        .transform(_plan_ckpt)
    )
    per_label_q = dims.groupBy("label").agg(
        F.sum("nv").alias("n_vecs"), F.sum("ss_d").alias("q_tot")
    )
    tot = dims.groupBy("pos").agg(F.sum("s_d").alias("t_d"))
    lbl = (
        dims.join(broadcast(tot), "pos")
        .groupBy("label")
        .agg(
            F.sum(dec("s_d") * dec("s_d")).alias("s2"),
            F.sum(dec("s_d") * (dec("t_d") - dec("s_d"))).alias("x2"),
        )
        # right: a label whose every vector is null or empty has no
        # dims to join, and keeps its row with null means, as in the
        # oracle
        .join(per_label_q, "label", "right")
    )
    n_total = per_label_q.agg(F.sum("n_vecs").alias("n_all"))
    out = lbl.crossJoin(broadcast(n_total)).filter(
        (F.col("n_vecs") > 1) & (F.col("n_vecs") < F.col("n_all"))
    )
    # r9 conversion (wave 3): both means are exact integer rationals —
    # truncating integer division at 6 dp in decimal(38,0) ↔ HUGEINT
    # (signed micro² dot sums truncate toward zero in both engines)
    return out.select(
        "label",
        "n_vecs",
        (
            F.expr(
                "(cast(s2 - q_tot as decimal(38,0)) * 1000000)"
                f" div (cast({_EM_MICRO2} as decimal(38,0))"
                " * n_vecs * (n_vecs - 1))"
            ).cast("double")
            / 1e6
        ).alias("mean_intra_dot"),
        (
            F.expr(
                "(cast(x2 as decimal(38,0)) * 1000000)"
                f" div (cast({_EM_MICRO2} as decimal(38,0))"
                " * n_vecs * (n_all - n_vecs))"
            ).cast("double")
            / 1e6
        ).alias("mean_inter_dot"),
    )


EMBEDDING_MARGIN_SQL = f"""
WITH e AS (
    SELECT CAST(label AS BIGINT) AS label,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(round(x * {_EM_MICRO}) AS BIGINT)) AS m
    FROM embeddings
),
pl AS (
    SELECT label, count(*) AS n_vecs,
           sum(list_sum(list_transform(m, x -> x * x))) AS q_tot
    FROM e GROUP BY label
),
dims AS (
    SELECT label, i.i AS pos, sum(m[i.i]) AS s_d
    FROM e CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(m)) FROM e) + 1)) AS i) i
    GROUP BY label, i.i
),
tot AS (SELECT pos, sum(s_d) AS t_d FROM dims GROUP BY pos),
lbl AS (
    SELECT d.label,
           sum(CAST(d.s_d AS HUGEINT) * d.s_d) AS s2,
           sum(CAST(d.s_d AS HUGEINT) * (t.t_d - d.s_d)) AS x2
    FROM dims d JOIN tot t USING (pos) GROUP BY d.label
),
na AS (SELECT count(*) AS n_all FROM e)
SELECT l.label, p.n_vecs,
       CAST((CAST(l.s2 - p.q_tot AS HUGEINT) * 1000000)
            // (CAST({_EM_MICRO2} AS HUGEINT) * p.n_vecs * (p.n_vecs - 1))
            AS DOUBLE) / 1000000.0 AS mean_intra_dot,
       CAST((CAST(l.x2 AS HUGEINT) * 1000000)
            // (CAST({_EM_MICRO2} AS HUGEINT) * p.n_vecs * (n.n_all - p.n_vecs))
            AS DOUBLE) / 1000000.0 AS mean_inter_dot
FROM lbl l JOIN pl p USING (label) CROSS JOIN na n
WHERE p.n_vecs > 1 AND p.n_vecs < n.n_all
"""


# ---------------------------------------------------------------------------
# ngram_coverage_curve

_COV_KS = (10, 100, 1000)


def ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage curve: what fraction of all corpus tokens
    the top-k most frequent terms account for, at k ∈ {10, 100,
    1000} — the vocabulary-budget diagnostic (how much of the stream a
    k-entry cache/vocab captures; the cumulative complement of the
    Zipf fit's slope).

    Exact integers end to end: term counts, the rank window (ties
    broken on the term string), and the cumulative sum are all
    integer; only the final share divides, once, identically.

    100 TB shape: corpus-scale token count [shuffle 1, the shared
    unigram backbone]; the rank + running-sum windows run over the
    VOCAB-scale count table (the corpus_zipf_fit stance — a global
    window is fine on a table bounded by distinct terms, and the
    filter to rank ≤ max(k) cuts it to 1000 rows before the cumsum).
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.operators._util import spread
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    d = spread(load_table(spark, sf_dir, "documents"))
    uni = (
        d.select(F.explode_outer(T.words(F.col("text"))).alias("w"))
        .filter(F.col("w").isNotNull())
        .select(F.lower(F.col("w")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = uni.agg(F.sum("cnt").alias("n_tokens"))
    rk = Window.orderBy(F.desc("cnt"), F.asc("term"))
    ranked = uni.withColumn("rank", F.row_number().over(rk)).filter(
        F.col("rank") <= max(_COV_KS)
    )
    cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    curve = ranked.withColumn("cum_cnt", F.sum("cnt").over(cum)).filter(
        F.col("rank").isin(*_COV_KS)
    )
    # r9 conversion (wave 3): truncating integer division at 6 dp
    return curve.crossJoin(broadcast(total)).select(
        F.col("rank").cast("long").alias("k"),
        "cum_cnt",
        (
            F.expr("(cum_cnt * 1000000) div n_tokens").cast("double") / 1e6
        ).alias("token_share"),
    )


NGRAM_COVERAGE_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_L} AS ws FROM documents),
uni AS (
    SELECT term, count(*) AS cnt
    FROM (SELECT unnest(ws) AS term FROM toks) GROUP BY term
),
tt AS (SELECT sum(cnt) AS n_tokens FROM uni),
ranked AS (
    SELECT term, cnt,
           row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank
    FROM uni
),
curve AS (
    SELECT rank, sum(cnt) OVER (ORDER BY rank
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cnt
    FROM ranked WHERE rank <= {max(_COV_KS)}
)
SELECT CAST(rank AS BIGINT) AS k, CAST(cum_cnt AS BIGINT) AS cum_cnt,
       CAST((cum_cnt * 1000000) // t.n_tokens AS DOUBLE) / 1000000.0
           AS token_share
FROM curve CROSS JOIN tt t
WHERE rank IN {_COV_KS}
"""


# ---------------------------------------------------------------------------
# events_decayed_value

_DK_LAMBDA = 0.9
_DK_MICRO = 1_000_000


def events_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-decayed engagement score: Σ value·λᵏ
    over the user's events with k = recency rank (0 = most recent,
    ties broken on event_id), λ = 0.9 — the classic recency-weighted
    LTV/engagement feature a ranking or sampling pipeline keys on.

    Exactness: each event's contribution value·λᵏ·1e6 quantizes ONCE
    to micro-units (power has an exact integer exponent and identical
    double inputs in both engines; the micro-round absorbs any ulp
    wobble), so the per-user reduction is an order-free exact integer
    sum — the output is fully integer, float-free hash.

    100 TB shape: ONE shuffle on user_id feeds both the recency-rank
    window and the per-user sum (the window's sort partition IS the
    aggregation partition); no joins.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    contrib = F.round(
        F.col("value") * F.pow(F.lit(_DK_LAMBDA), F.col("k")) * _DK_MICRO
    ).cast("long")
    return (
        ev.select("user_id", "event_id", "ts", "value")
        .withColumn("k", (F.row_number().over(w) - 1).cast("int"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(contrib).alias("decayed_value_mu"),
        )
    )


EVENTS_DECAYED_SQL = f"""
WITH rk AS (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) - 1 AS k
    FROM events
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * pow({_DK_LAMBDA}, k) * {_DK_MICRO}) AS BIGINT))
            AS BIGINT) AS decayed_value_mu
FROM rk GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# neardup_triangle_stats — triangle census of the near-dup graph


def neardup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the MinHash-LSH near-dup graph: edge count,
    wedge count, triangle count and the global clustering coefficient
    3T/W — the transitivity audit that tells a dedup owner whether
    near-dup similarity is behaving like an equivalence relation
    (high clustering ⇒ CC clusters are tight dup groups) or like
    chained boilerplate (low clustering ⇒ CC is gluing strangers and
    the LPA/bounded-horizon view is the trustworthy one).

    Scale shape — the Suri-Vassilvitskii degree-ordered orientation
    (WWW'11 "Counting Triangles and the Curse of the Last Reducer"):
    every edge directs from its (degree, id)-smaller endpoint, so
    each node's out-degree is O(√m) and the wedge self-join is
    O(m^1.5) TOTAL work regardless of skew — a raw neighbor self-join
    on a hub node would be quadratic in the hub degree (the "last
    reducer" that kills naive triangle jobs on Zipf-shaped dup
    graphs). Each triangle has exactly one wedge apex under the
    orientation, so the count is exact with no division by 3.
    Wedges fold off the degree table (Σ C(d,2), exact integers).

    Oracle: brute a<b<c triple join — exact on test scales, and the
    id-order triple count equals the degree-ordered count because
    both count each triangle once.
    """
    pairs = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=3, num_hashes=12, bands=6
    )
    e = (
        pairs.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return triangle_census(e)


def triangle_census(e: DataFrame) -> DataFrame:
    """Degree-ordered triangle/wedge census over a canonical (a, b)
    edge table — factored out of ``neardup_triangle_stats`` so the
    planted-hub skew stress (tests/test_skew.py) drives the exact
    production composition. See the query docstring for the
    Suri-Vassilvitskii scale argument; the hub-adversarial invariant
    (per-apex out-degree O(√m) ⇒ no last-reducer wedge blowup) is
    measured there."""
    # r10: eager checkpoint instead of the r9 lazy persist — the
    # symmetrization union scans `e` twice inside deg's materializing
    # job, and a lazy cache populated mid-job does not stop the second
    # branch from recomputing the corpus-scale pair generation. The
    # eager truncation runs it exactly once (and honors the reliable-
    # checkpoint switch like every other site).
    e = _plan_ckpt(e)
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # r9 optimization: deg fans out to da/db/the wedge rollup and
    # dir_e to w1/w2/closing — six re-derivations of node- and
    # edge-scale tables. localCheckpoint materializes each once per
    # invocation (the CC plan_ckpt stance; both stay candidate-scale at
    # 100 TB), collapsing the census from 45 jobs / 147 stages /
    # 3327 tasks to 21 / 46 / 606 at sf0.1 (scripts/opt_runtime.py).
    deg = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(_plan_ckpt)
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    ranked = e.join(da, "a").join(db, "b")
    # direct each edge from its (degree, id)-smaller endpoint
    fwd = F.struct(F.col("da").alias("d"), F.col("a").alias("n")) < F.struct(
        F.col("db").alias("d"), F.col("b").alias("n")
    )
    dir_e = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.struct(F.col("db").alias("d"), F.col("b").alias("n")))
        .otherwise(F.struct(F.col("da").alias("d"), F.col("a").alias("n")))
        .alias("dst"),
    ).transform(_plan_ckpt)
    w1 = dir_e.select("src", F.col("dst").alias("v"))
    w2 = dir_e.select("src", F.col("dst").alias("w"))
    wedges = w1.join(w2, "src").filter(F.col("v") < F.col("w"))
    closing = dir_e.select(
        F.col("src").alias("v_n"), F.col("dst.n").alias("w_n")
    )
    tri = wedges.join(
        closing,
        (F.col("v.n") == F.col("v_n")) & (F.col("w.n") == F.col("w_n")),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("n_wedges")
    ).crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
    from pyspark.sql.functions import broadcast

    out = tri.crossJoin(broadcast(stats))
    # r9 conversion (wave 3): truncating integer division at 6 dp
    cc = F.when(
        F.col("n_wedges") > 0,
        F.expr("(3 * n_triangles * 1000000) div n_wedges").cast("double")
        / 1e6,
    ).otherwise(F.lit(0.0))
    return out.select(
        "n_edges", "n_wedges", "n_triangles", cc.alias("global_clustering")
    )


NEARDUP_TRIANGLES_SQL = (
    _MINHASH_PAIRS_BODY
    + """,
e AS (SELECT DISTINCT least(da, db) AS a, greatest(da, db) AS b FROM cand WHERE da <> db),
sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY a),
tri AS (
    SELECT count(*) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
        ON e3.a = e1.a AND e3.b = e2.b
),
st AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges
)
SELECT s.n_edges, s.n_wedges, CAST(t.n_triangles AS BIGINT) AS n_triangles,
       CASE WHEN s.n_wedges > 0
            THEN CAST((3 * t.n_triangles * 1000000) // s.n_wedges AS DOUBLE)
                 / 1000000.0
            ELSE 0.0 END AS global_clustering
FROM tri t CROSS JOIN st s
"""
)


# ---------------------------------------------------------------------------
# neardup_khop_reach — contamination blast radius via bounded BFS

_KHOP_SEEDS_BELOW = 50
_KHOP_MAX = 3


def neardup_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the near-dup graph: for every doc within
    ``_KHOP_MAX`` hops of a seed set (doc_id < ``_KHOP_SEEDS_BELOW``
    among graph nodes), its exact hop distance — the contamination
    blast-radius question ("if these docs are tainted, what else is
    transitively near them, and how close") that a decontamination
    owner asks before choosing a removal horizon; the distance
    histogram directly prices each horizon choice.

    Exactness: BFS with simultaneous frontier expansion assigns each
    node its MINIMUM hop distance — a pure function of the edge set;
    the oracle's recursive CTE takes min(d) per node over all ≤ k
    walks, which is the same number.

    100 TB shape: the symmetrized edge list rides the size-gated
    broadcast (pair-scale); each of the fixed ``_KHOP_MAX`` rounds is
    frontier ⋈ edges (frontier is blast-radius-scale, typically ≪
    pairs) + a left-anti against the known set + distinct — all keyed
    on node. No convergence loop: the horizon is a constant, so the
    job count never scales with data.
    """
    pairs = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=3, num_hashes=12, bands=6
    )
    # r10 optimization: khop_reach symmetrizes `e` (two references)
    # BEFORE its gate persist, so the corpus-scale LSH backbone ran
    # twice inside the persist's materialization. Checkpoint the
    # pair-scale edge list first (the neardup_degree_stats stance).
    e = (
        pairs.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(_plan_ckpt)
    )
    return khop_reach(e, _KHOP_SEEDS_BELOW, _KHOP_MAX)


def khop_reach(e: DataFrame, seeds_below: int, max_hops: int) -> DataFrame:
    """Bounded-BFS core over a canonical (a, b) edge table — factored
    out of ``neardup_khop_reach`` so the planted-hub skew stress
    (tests/test_skew.py) drives the production composition. Per-round
    localCheckpoint lineage truncation; see the query docstring."""
    from distributed_file_system_with_stream_processing_spark.operators._util import (
        gate_broadcast,
    )

    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym, _ = gate_broadcast(sym)
    nodes = sym.select(F.col("a").alias("node")).distinct()
    known = nodes.filter(F.col("node") < seeds_below).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    frontier = known
    for t in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym.withColumnRenamed("a", "node"), "node")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(known, "node", "left_anti")
            .select("node", F.lit(t).cast("long").alias("dist"))
        )
        # truncate lineage per round (the connected_components plan_ckpt
        # stance): `known` references itself twice per round (expand +
        # left-anti), so without truncation the plan tree doubles per
        # hop — 164 exchanges in the audited plan at 3 hops. The
        # checkpoint materializes only the frontier (blast-radius
        # scale); at 100 TB the spark.dfsp.reliableCheckpoint conf
        # makes it a reliable checkpoint, as operators/_util.plan_ckpt
        # documents.
        nxt = nxt.transform(_plan_ckpt)
        known = known.unionByName(nxt)
        frontier = nxt
    return known.select(F.col("node").alias("doc_id"), "dist")


NEARDUP_KHOP_SQL = (
    _MINHASH_PAIRS_BODY.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + f""",
e AS (SELECT DISTINCT least(da, db) AS a, greatest(da, db) AS b FROM cand WHERE da <> db),
sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
nodes AS (SELECT DISTINCT a AS node FROM sym),
reach(node, d) AS (
    SELECT node, 0 FROM nodes WHERE node < {_KHOP_SEEDS_BELOW}
    UNION
    SELECT s.b, r.d + 1
    FROM reach r JOIN sym s ON r.node = s.a
    WHERE r.d < {_KHOP_MAX}
)
SELECT node AS doc_id, CAST(min(d) AS BIGINT) AS dist
FROM reach GROUP BY node
"""
)


# ---------------------------------------------------------------------------
# docs_effective_tokens — dedup-aware corpus sizing

_EFF_MICRO = 1_000_000


def docs_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware corpus sizing: per source, raw token count vs
    EFFECTIVE token count where each doc's tokens are down-weighted by
    its near-dup cluster size (Σ tokens(d)/|cluster(d)|) — the
    headline number a training-data owner actually budgets with:
    "after dedup, how many tokens does this source really contribute".
    A source whose effective/raw ratio collapses is mostly mirrors.

    Composition of two proven backbones: MinHash-LSH pairs →
    large-star/small-star CC (dedup_clusters' plan) for cluster
    sizes, and the whitespace token census. Singletons (docs with no
    near-dup) keep weight 1 via the left join + coalesce.

    Exactness: token counts and cluster sizes are exact integers;
    each doc's weighted contribution tokens·1e6/size quantizes ONCE
    (single integer division sequence in both engines via the
    rounded t·1e6/s quantization) and the per-source reduction is an order-free
    integer sum.

    100 TB shape: the LSH + CC backbone (diameter-independent,
    checkpointed) is the session-persisted index (plans/_backbones.py,
    r6 verdict #3 — banding + CC run once per session at the shared
    default parameterization, this query reads the materialized CC
    table) + one (doc_id) join of cluster sizes onto the token census
    + a per-source rollup. The cluster-size table is component-scale
    and rides the size-gated broadcast.
    """
    from distributed_file_system_with_stream_processing_spark.plans import _backbones as B

    d = load_table(spark, sf_dir, "documents")
    return effective_tokens_from_cc(d, B.minhash_cc(spark, sf_dir))


def effective_tokens_from_edges(
    d: DataFrame,
    edges: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
) -> DataFrame:
    """The dedup-aware sizing CORE, factored over an explicit edge
    table so the registered batch query and the streaming CDC twin
    (streaming/rainstorm.effective_tokens_stream — which ACCUMULATES
    the same LSH edges incrementally) run one code path: CC → cluster
    sizes → gated-broadcast join onto the token census → per-source
    integer rollup. Given equal (docs, edges), outputs are equal —
    the streamed-≡-batch equivalence reduces to edge-set equality,
    which minhash_banded guarantees by construction."""
    cc = D.connected_components(edges, src=src, dst=dst)
    return effective_tokens_from_cc(d, cc)


def effective_tokens_from_cc(d: DataFrame, cc: DataFrame) -> DataFrame:
    """The post-closure half of the sizing core, over an explicit
    (node, cluster_id) component table — the registered batch query
    feeds the session-persisted ``_backbones.minhash_cc`` here while
    the streaming twin closes its accumulated edges itself."""
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.operators._util import (
        gate_broadcast,
        spread,
    )

    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("csize"))
    member_sizes, _ = gate_broadcast(
        cc.join(sizes, "cluster_id").select(
            F.col("node").alias("doc_id"), "csize"
        )
    )
    toks = spread(d).select(
        "doc_id",
        "source",
        F.size(T.words(F.col("text"))).cast("long").alias("n_tok"),
    )
    weighted = toks.join(member_sizes, "doc_id", "left").select(
        "source",
        "n_tok",
        # ok-round: algorithmic round-to-nearest (quantizer) — the
        # effective-token micro unit is DEFINED as the nearest-int
        # quantization of n_tok/csize; oracle mirrors
        F.round(
            F.col("n_tok") * F.lit(_EFF_MICRO) / F.coalesce(F.col("csize"), F.lit(1))
        )
        .cast("long")
        .alias("eff_mu"),
    )
    return weighted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("eff_mu").alias("effective_tokens_mu"),
    )


DOCS_EFFECTIVE_TOKENS_SQL = (
    _MINHASH_PAIRS_BODY.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + f""",
edges AS (SELECT da AS a, db AS b FROM cand
          UNION SELECT db AS a, da AS b FROM cand),
reach(node, r) AS (
    SELECT a, a FROM edges
    UNION
    SELECT reach.node, e2.b FROM reach JOIN edges e2 ON reach.r = e2.a
),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
sizes AS (SELECT cluster_id, count(*) AS csize FROM cc GROUP BY cluster_id),
ms AS (
    SELECT c.node AS doc_id, s.csize FROM cc c JOIN sizes s USING (cluster_id)
),
toks AS (
    SELECT doc_id, source, CAST(len({_TOKS_L}) AS BIGINT) AS n_tok
    FROM documents
),
weighted AS (
    SELECT t.source, t.n_tok,
           -- ok-round: algorithmic round-to-nearest (quantizer)
           CAST(round(t.n_tok * {_EFF_MICRO} / coalesce(m.csize, 1)) AS BIGINT)
               AS eff_mu
    FROM toks t LEFT JOIN ms m USING (doc_id)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(eff_mu) AS BIGINT) AS effective_tokens_mu
FROM weighted GROUP BY source
"""
)


# ---------------------------------------------------------------------------
# embedding_dim_variance — dead/hot dimension screen

_DV_TOPK = 16


def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance screen, top-``_DV_TOPK`` dimensions:
    the encoder-health check that catches dead dims (variance ≈ 0 —
    wasted capacity, they poison cosine with constant offsets) and
    hot dims (one coordinate dominating distance) before any
    ANN/clustering stage trusts the space — the univariate companion
    to embedding_pca_spectrum's rotated view.

    Exactness: components micro-quantize once; per-dim Σx and Σx²
    are exact integer folds (HUGEINT/DECIMAL for the squares);
    variance = sq/n − (s/n)² evaluates in one fixed double sequence
    and rounds once; ranking orders by that identical double with a
    dimension tie-break.

    100 TB shape: ONE corpus-scale shuffle — the ×dim posexplode
    into a (dim)-key partial agg (64 groups); the rank window runs
    over 64 rows.
    """
    from distributed_file_system_with_stream_processing_spark.functions import vector as V
    from distributed_file_system_with_stream_processing_spark.operators._util import spread
    from pyspark.sql import Window

    e = spread(load_table(spark, sf_dir, "embeddings"))
    mu = F.transform(
        V.as_double(F.col("embedding")),
        lambda x: F.round(x * _EM_MICRO).cast("long"),
    )
    dims = (
        e.select(F.posexplode(mu).alias("pos", "c"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s"),
            F.sum(
                F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
            ).alias("sq"),
        )
    )
    # r9 conversion (wave 3): mean = s/(10⁶·n) at 6 dp is (s div n)/10⁶
    # exactly; variance = (sq·n − s²)/(10¹²·n²) truncating-divides in
    # decimal(38,0) ↔ HUGEINT. The rank window orders by the truncated
    # variance (identical in both engines), dim ASC tie-break.
    w = Window.orderBy(F.desc("variance"), F.asc("dim"))
    return (
        dims.select(
            F.col("pos").cast("long").alias("dim"),
            "n",
            (F.expr("s div n").cast("double") / 1e6).alias("mean"),
            (
                F.expr(
                    "((cast(sq as decimal(38,0)) * n"
                    " - cast(s as decimal(38,0)) * s) * 1000000)"
                    " div (cast(1000000000000 as decimal(38,0)) * n * n)"
                ).cast("double")
                / 1e6
            ).alias("variance"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _DV_TOPK)
    )


EMBEDDING_DIM_VARIANCE_SQL = f"""
WITH e AS (
    SELECT list_transform(embedding::DOUBLE[],
                          x -> CAST(round(x * {_EM_MICRO}) AS BIGINT)) AS m
    FROM embeddings
),
dims AS (
    SELECT i.i - 1 AS pos, count(*) AS n, sum(m[i.i]) AS s,
           sum(CAST(m[i.i] AS HUGEINT) * m[i.i]) AS sq
    FROM e CROSS JOIN (SELECT unnest(range(1, len((SELECT m FROM e LIMIT 1)) + 1)) AS i) i
    GROUP BY i.i
),
stats AS (
    SELECT CAST(pos AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
           CAST(s // n AS DOUBLE) / 1000000.0 AS mean,
           CAST(((CAST(sq AS HUGEINT) * n - CAST(s AS HUGEINT) * s) * 1000000)
                // (CAST(1000000000000 AS HUGEINT) * n * n) AS DOUBLE)
               / 1000000.0 AS variance
    FROM dims
)
SELECT dim, n, mean, variance, rank FROM (
    SELECT *, CAST(row_number() OVER (ORDER BY variance DESC, dim ASC) AS BIGINT) AS rank
    FROM stats
) WHERE rank <= {_DV_TOPK}
"""


# ---------------------------------------------------------------------------
# corpus_cross_entropy — the LM-health headline number


def corpus_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cross-entropy under its own add-k bigram LM: H =
    −Σ_g c(g)·ln p(g) / Σ_g c(g) nats/bigram, plus the corpus
    perplexity exp(H) — the single number tokenizer/data-mixing
    dashboards track release-over-release (rising H = the corpus got
    harder to model = more noise or more diversity; which one, the
    per-source KL drill-down says).

    Exactness: l_mu is the shared micro-quantized log-prob from
    llm_ops4.bigram_model; the corpus fold Σ c·l_mu is an exact
    integer (DECIMAL) sum over the VOCAB-scale gram table — the
    per-doc scoring join never runs; the one division happens at the
    end, identically.

    100 TB shape: the bigram-count backbone + the model join, both
    vocab-scale; one 1-row final aggregate. Nothing per-document.
    """
    from distributed_file_system_with_stream_processing_spark.operators._util import spread
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        _BG_MICRO,
        _bigram_tf,
        bigram_model,
    )

    d = spread(load_table(spark, sf_dir, "documents"))
    bg = _bigram_tf(d)
    # r10 optimization: the corpus bigram-count table is BOTH the fold
    # input and the model's training table, but the two derivations
    # were separate subtrees, so the (doc, gram) corpus pass ran twice
    # (35 stages measured). Checkpoint the vocab-scale count table once
    # and hand it to the trainer (bigram_model(cbg=...)).
    cbg = (
        bg.groupBy("gram").agg(F.sum("tf").alias("c")).transform(_plan_ckpt)
    )
    model = bigram_model(d, cbg=cbg.select("gram", F.col("c").alias("cbg")))
    agg = (
        cbg.join(model, "gram")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(
                F.col("c").cast("decimal(19,0)") * F.col("l_mu").cast("decimal(19,0)")
            ).alias("_s"),
        )
    )
    h = -(F.col("_s").cast("double") / _BG_MICRO) / F.col("n_bigrams")
    return agg.select(
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(h, 6).alias("cross_entropy_nats"),
        F.round(F.exp(h), 4).alias("corpus_ppl"),
    )


def _cross_entropy_oracle() -> str:
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops4 import (
        _BG_K,
        _BG_MICRO,
    )

    return rf"""
WITH toks AS (SELECT doc_id, {_TOKS_L} AS ws FROM documents),
ex AS (SELECT doc_id, unnest({_BIGRAMS}) AS gram FROM toks),
bg AS (SELECT doc_id, gram, count(*) AS tf FROM ex GROUP BY doc_id, gram),
cbg AS (SELECT gram, sum(tf) AS cbg FROM bg GROUP BY gram),
uni AS (
    SELECT term, count(*) AS cu FROM (SELECT unnest(ws) AS term FROM toks)
    GROUP BY term
),
vocab AS (SELECT count(*) AS vsz FROM uni),
model AS (
    SELECT c.gram, c.cbg AS c,
           CAST(round(ln((c.cbg + {_BG_K}) / (u.cu + {_BG_K} * v.vsz))
                      * {_BG_MICRO}) AS BIGINT) AS l_mu
    FROM cbg c JOIN uni u ON split_part(c.gram, ' ', 1) = u.term
    CROSS JOIN vocab v
),
agg AS (SELECT sum(c) AS n_bigrams, sum(CAST(c AS HUGEINT) * l_mu) AS s FROM model)
SELECT CAST(n_bigrams AS BIGINT) AS n_bigrams,
       -- ok-round: irrational (p*ln p entropy term)
       round(-(CAST(s AS DOUBLE) / {_BG_MICRO}) / n_bigrams, 6) AS cross_entropy_nats,
       -- ok-round: irrational (exp/ln family)
       round(exp(-(CAST(s AS DOUBLE) / {_BG_MICRO}) / n_bigrams), 4) AS corpus_ppl
FROM agg
"""


CORPUS_CROSS_ENTROPY_SQL = _cross_entropy_oracle()


# ---------------------------------------------------------------------------
# docs_ttr_profile — lexical diversity


def docs_ttr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document type-token ratio: distinct lowercased tokens over
    total tokens — the lexical-diversity quality signal (low TTR =
    repetitive boilerplate; pairs with doc_repetition_score's n-gram
    view). Exact integers; the single ratio divides once, rounded.
    Docs with no tokens are excluded in both engines (0/0).

    100 TB shape: one (doc_id, term) partial-agg shuffle — distinct
    and total counts fold together on the same key; no joins.
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.operators._util import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    terms = (
        d.select("doc_id", F.explode_outer(T.words(F.col("text"))).alias("w"))
        .filter(F.col("w").isNotNull())
        .select("doc_id", F.lower(F.col("w")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("tf").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_types",
            "n_tokens",
            # r9 conversion (wave 3): truncating integer division
            (
                F.expr("(n_types * 1000000) div n_tokens").cast("double")
                / 1e6
            ).alias("ttr"),
        )
    )


DOCS_TTR_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_L} AS ws FROM documents),
terms AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(ws) AS term FROM toks)
    GROUP BY doc_id, term
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST((count(*) * 1000000) // sum(tf) AS DOUBLE) / 1000000.0 AS ttr
FROM terms GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# lang_source_contingency — corpus-composition independence audit

_CHI_MICRO = 1_000_000


def lang_source_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang × source contingency table with per-cell chi-square
    contributions — the "is language independent of source"
    composition audit a mixing owner runs before per-source language
    filters: a cell whose contribution dominates is a source feeding
    one language disproportionately.

    Exactness: observed counts and the three marginals are exact
    integers; each cell's expected value r·c/N and contribution
    (O−E)²/E evaluate in ONE fixed double sequence and micro-quantize
    per cell — so the total chi² (= Σ contrib_mu / 1e6, summable by
    the reader) is an order-free integer sum. No global double sum
    exists anywhere.

    100 TB shape: one corpus partial-agg shuffle on the (lang,
    source) key; marginals derive from the CELL table (tiny), never a
    second corpus pass; the two marginal joins are broadcasts.
    """
    from pyspark.sql.functions import broadcast

    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    rows_m = cells.groupBy("lang").agg(F.sum("n").alias("r_tot"))
    cols_m = cells.groupBy("source").agg(F.sum("n").alias("c_tot"))
    tot = cells.agg(F.sum("n").alias("n_all"))
    j = (
        cells.join(broadcast(rows_m), "lang")
        .join(broadcast(cols_m), "source")
        .crossJoin(broadcast(tot))
    )
    e = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n_all")
    contrib = (F.col("n") - e) * (F.col("n") - e) / e
    return j.select(
        "lang",
        "source",
        "n",
        # r9 conversion (wave 3): expected = row·col/n is the genuine
        # .xxxx5 exposure class — exact truncating integer division at
        # 4 dp in decimal(38,0) (the customer_segment_nation_chi2
        # discipline)
        (
            F.expr(
                "(cast(r_tot as decimal(38,0)) * c_tot * 10000) div n_all"
            ).cast("double")
            / 1e4
        ).alias("expected"),
        # ok-round: algorithmic round-to-nearest (quantizer) of the
        # double chi2 composite — exact integer form overflows at
        # target scale (the chi2 triage KEEP)
        F.round(contrib * _CHI_MICRO).cast("long").alias("contrib_mu"),
    )


LANG_SOURCE_CONTINGENCY_SQL = f"""
WITH cells AS (
    SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
),
rm AS (SELECT lang, sum(n) AS r_tot FROM cells GROUP BY lang),
cm AS (SELECT source, sum(n) AS c_tot FROM cells GROUP BY source),
tt AS (SELECT sum(n) AS n_all FROM cells)
SELECT c.lang, c.source, CAST(c.n AS BIGINT) AS n,
       CAST((CAST(r.r_tot AS HUGEINT) * m.c_tot * 10000) // t.n_all
            AS DOUBLE) / 10000.0 AS expected,
       -- ok-round: algorithmic round-to-nearest (quantizer; see twin)
       CAST(round((c.n - CAST(r.r_tot AS DOUBLE) * m.c_tot / t.n_all)
                  * (c.n - CAST(r.r_tot AS DOUBLE) * m.c_tot / t.n_all)
                  / (CAST(r.r_tot AS DOUBLE) * m.c_tot / t.n_all)
                  * {_CHI_MICRO}) AS BIGINT) AS contrib_mu
FROM cells c
JOIN rm r USING (lang)
JOIN cm m USING (source)
CROSS JOIN tt t
"""


# ---------------------------------------------------------------------------
# embedding_knn_classvote — embedding-quality eval via kNN label vote


def embedding_knn_classvote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-vote evaluation of the embedding space: for each
    query vector (the ann_cosine_topk query set), the majority label
    among its 5 exact nearest base neighbors vs its own label — the
    standard "do nearest neighbors share my class" probe that turns
    the ANN stack into an embedding-quality score (agreement rate =
    the leave-out kNN accuracy).

    Determinism: the neighbor set is ann_cosine_topk's (proven
    hash-stable ordering); the vote is an integer count with ties
    broken by smallest label — pure function of the neighbor table.

    100 TB shape: the queries-broadcast brute-force cosine (the
    documented correct shape for a tiny query side) + a broadcast
    label join and a |Q|-scale vote aggregate. Nothing new shuffles.
    """
    from distributed_file_system_with_stream_processing_spark.operators import (
        similarity as S,
    )
    from pyspark.sql.functions import broadcast

    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", F.col("label").cast("long").alias("label"))
    topk = S.cosine_topk(emb, query_ids_below=10, k=5)
    votes = (
        topk.join(
            broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pred = (
        votes.groupBy("query_id")
        .agg(
            F.min(
                F.struct((-F.col("c")).alias("_negc"), F.col("label").alias("label"))
            ).alias("w")
        )
        .select("query_id", F.col("w.label").alias("pred_label"))
    )
    return (
        pred.join(
            broadcast(labels.withColumnRenamed("vec_id", "query_id")).withColumnRenamed(
                "label", "true_label"
            ),
            "query_id",
        )
        .select(
            "query_id",
            "true_label",
            "pred_label",
            (F.col("true_label") == F.col("pred_label"))
            .cast("long")
            .alias("correct"),
        )
    )


EMBEDDING_KNN_VOTE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
b AS (SELECT vec_id AS neighbor_id, v AS bv FROM e WHERE vec_id >= 10),
s AS (
    SELECT query_id, neighbor_id,
           {_ANN_DOT.format(a='qv', b='bv')} /
           (sqrt({_ANN_DOT.format(a='qv', b='qv')})
            * sqrt({_ANN_DOT.format(a='bv', b='bv')})) AS sim
    FROM b, q
),
r AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM s
),
votes AS (
    SELECT r.query_id, CAST(l.label AS BIGINT) AS label, count(*) AS c
    FROM r JOIN embeddings l ON r.neighbor_id = l.vec_id
    WHERE r.rank <= 5
    GROUP BY r.query_id, l.label
),
pred AS (
    SELECT query_id, label AS pred_label FROM (
        SELECT query_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY c DESC, label ASC) AS rn
        FROM votes) WHERE rn = 1
)
SELECT p.query_id, CAST(t.label AS BIGINT) AS true_label, p.pred_label,
       CAST(CASE WHEN t.label = p.pred_label THEN 1 ELSE 0 END AS BIGINT) AS correct
FROM pred p JOIN embeddings t ON p.query_id = t.vec_id
"""


QUERIES = {
    "neardup_communities": neardup_communities,
    "neardup_degree_stats": neardup_degree_stats,
    "bigram_pmi_topk": bigram_pmi_topk,
    "embedding_quantization_error": embedding_quantization_error,
    "embedding_margin_stats": embedding_margin_stats,
    "ngram_coverage_curve": ngram_coverage_curve,
    "events_decayed_value": events_decayed_value,
    "docs_ttr_profile": docs_ttr_profile,
    "lang_source_contingency": lang_source_contingency,
    "embedding_knn_classvote": embedding_knn_classvote,
    "neardup_triangle_stats": neardup_triangle_stats,
    "neardup_khop_reach": neardup_khop_reach,
    "docs_effective_tokens": docs_effective_tokens,
    "embedding_dim_variance": embedding_dim_variance,
    "corpus_cross_entropy": corpus_cross_entropy,
}

ORACLES = {
    "neardup_communities": NEARDUP_COMMUNITIES_SQL,
    "neardup_degree_stats": NEARDUP_DEGREE_SQL,
    "bigram_pmi_topk": BIGRAM_PMI_SQL,
    "embedding_quantization_error": EMBEDDING_QUANT_ERR_SQL,
    "embedding_margin_stats": EMBEDDING_MARGIN_SQL,
    "ngram_coverage_curve": NGRAM_COVERAGE_SQL,
    "events_decayed_value": EVENTS_DECAYED_SQL,
    "docs_ttr_profile": DOCS_TTR_SQL,
    "lang_source_contingency": LANG_SOURCE_CONTINGENCY_SQL,
    "embedding_knn_classvote": EMBEDDING_KNN_VOTE_SQL,
    "neardup_triangle_stats": NEARDUP_TRIANGLES_SQL,
    "neardup_khop_reach": NEARDUP_KHOP_SQL,
    "docs_effective_tokens": DOCS_EFFECTIVE_TOKENS_SQL,
    "embedding_dim_variance": EMBEDDING_DIM_VARIANCE_SQL,
    "corpus_cross_entropy": CORPUS_CROSS_ENTROPY_SQL,
}
