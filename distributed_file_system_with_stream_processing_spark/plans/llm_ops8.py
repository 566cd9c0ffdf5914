"""Round-5 tail query module: pipeline-QA audits (LSH recall, hubness,
cluster quality, quality×dup dependence) and product-analytics series
(cohort LTV, DAU/MAU stickiness, priority mix shift, inactivity gaps).

Same contract as ``llm_ops``…``llm_ops7``: declarative DataFrame plans
(JVM expressions only) with DuckDB oracles mirroring the exact
arithmetic, so value hashes match without tolerances.

Ops here (all oracled):
- ``lsh_recall_curve`` — recall of the MinHash-LSH candidate set vs
  the capped-exact-Jaccard ground truth, per true-Jaccard bin: the
  S-curve audit that prices a (num_hashes, bands) choice BEFORE a
  dedup run trusts it.
- ``customer_cohort_ltv`` — first-order-month cohort × order-age
  revenue matrix (the classic cohort-LTV triangle).
- ``events_dau_mau`` — monthly DAU/MAU stickiness.
- ``orders_priority_mix_shift`` — per-month priority mix with
  month-over-month share drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_file_system_with_stream_processing_spark.operators import dedup as D
from distributed_file_system_with_stream_processing_spark.operators._util import (
    plan_ckpt as _plan_ckpt,
)
from distributed_file_system_with_stream_processing_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# lsh_recall_curve

_LSH_BINS = 10


def lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash-LSH (12 hashes × 6 bands — the registered
    ``dedup_minhash_lsh`` configuration) against the capped-exact
    n-gram-Jaccard ground truth, per true-Jaccard bin — the empirical
    S-curve. Theory says a pair with Jaccard j collides on some band
    with probability 1−(1−j²)⁶; this measures it on the actual corpus,
    which is how a dedup owner prices a banding choice (recall at the
    dedup threshold, wasted candidates below it) BEFORE trusting a
    full run. Completes the dedup family's QA story: every backbone is
    oracled individually; this audits one against another.

    Semantics: truth = every co-shingled pair under the standard
    df≤50 stop-shingle cap (the primary ``dedup_ngram_jaccard``
    semantics — the audit grades LSH against what the exact path
    would actually compute at scale); bin = least(floor(j·10), 9);
    a pair is caught iff the banded signature self-join emits it.

    Exactness: j is the same double division of exact integers in
    both engines (bit-lockstep), so floor-binning is exact; counts
    and the recall ratio are integer-derived, rounded once at 6 dp.

    100 TB shape: both sides are the proven bucketed joins (shingle
    equi-join with the C(50,2) fan-out bound; (band, key) equi-join),
    the audit join is pair-scale on (doc_id_a, doc_id_b), and the
    output is 10 rows. No new corpus-scale shape anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r10 (r9 verdict item 4, priced by LSH_RECALL_PROBE.json): truth
    # and banding legitimately both need the shingle table; r9 left
    # them as two tokenize+shingle corpus passes because sharing it
    # means a corpus-scale materialization. The probe measured both
    # variants at sf0.1 (4.71 -> 3.23 s) AND sf1 (7.62 -> 4.65 s,
    # mirror-heavy rehearsal corpus) with identical outputs — the
    # checkpoint wins where it matters, so the shared table ships
    # (reliable checkpoint at 100 TB via the plan_ckpt conf).
    return _lsh_recall(docs, _plan_ckpt(D._with_shingles(docs, "doc_id", "text", 3)))


def _lsh_recall(docs: DataFrame, sh: DataFrame) -> DataFrame:
    """lsh_recall_curve's body over one (doc_id, sh) shingle table
    shared by truth and banding."""
    truth = D.ngram_jaccard_all_pairs(docs, n=3, max_doc_freq=50, sh=sh)
    cand = D.minhash_lsh_pairs(docs, n=3, num_hashes=12, bands=6, sh=sh).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("caught")
    )
    binned = truth.join(cand, ["doc_id_a", "doc_id_b"], "left").select(
        F.least(
            F.floor(F.col("_j") * _LSH_BINS).cast("long"),
            F.lit(_LSH_BINS - 1).cast("long"),
        ).alias("bin"),
        F.coalesce("caught", F.lit(0)).alias("caught"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("caught").cast("long").alias("n_caught"),
        # r9 conversion (wave 3): truncating integer division at 6 dp
        (
            F.expr("(sum(caught) * 1000000) div count(1)").cast("double")
            / 1e6
        ).alias("recall"),
    )


def _lsh_recall_sql() -> str:
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops import (
        _MH_PARAMS_SQL,
        _duck_shingles,
    )

    return f"""
WITH sh AS ({_duck_shingles(3)}),
shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM shf),
dfreq AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1),
exc AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN dfreq USING (shingle) WHERE df <= 50),
shared AS (
    SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ns
    FROM exc a JOIN exc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sh) AS n FROM shf),
truth AS (
    SELECT da, db, CAST(ns AS DOUBLE) / (na.n + nb.n - ns) AS j
    FROM shared
    JOIN sizes na ON da = na.doc_id
    JOIN sizes nb ON db = nb.doc_id
),
hs AS (
    SELECT doc_id,
           list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
    FROM shf
),
sig AS (
    SELECT doc_id,
           list_transform({_MH_PARAMS_SQL}, p ->
               list_aggregate(list_transform(hs, h -> (p[1] * h + p[2]) % {T.MINHASH_PRIME}), 'min')) AS sig
    FROM hs
),
bands AS (SELECT doc_id, sig, unnest(range(0, 6)) AS band FROM sig),
keys AS (
    SELECT doc_id, band,
           md5(array_to_string(list_transform(sig[band*2+1:band*2+2],
                                              x -> CAST(x AS VARCHAR)), '|')) AS key
    FROM bands
),
cand AS (
    SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
    FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
binned AS (
    SELECT least(CAST(floor(t.j * {_LSH_BINS}) AS BIGINT), {_LSH_BINS - 1}) AS bin,
           CASE WHEN c.da IS NOT NULL THEN 1 ELSE 0 END AS caught
    FROM truth t LEFT JOIN cand c ON t.da = c.da AND t.db = c.db
)
SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(caught) AS BIGINT) AS n_caught,
       CAST((sum(caught) * 1000000) // count(*) AS DOUBLE) / 1000000.0
           AS recall
FROM binned GROUP BY bin
"""


# ---------------------------------------------------------------------------
# customer_cohort_ltv


def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-LTV triangle: customers grouped by FIRST-order month,
    revenue per months-since-first-order — the classic retention-value
    matrix (read down a column for "how do newer cohorts compare at
    the same age", across a row for "how does a cohort decay"), the
    orders-side complement of ``events_cohort_retention``'s activity
    counts.

    Exactness: cohort key = min(year·100+month) per customer and age
    = month-index difference — both exact integer folds (yyyymm and
    year·12+month are each monotone in (year, month), so the min of
    one identifies the min of the other); revenue sums exact integer
    cents (the q1/rfm discipline); distinct-customer counts exact.

    100 TB shape: one custkey partial-agg shuffle (first order), one
    custkey-co-partitioned join back (AQE plans a single exchange
    pair), then a (cohort, age) rollup at months² metadata scale.
    """
    o = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long")
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    fo = (
        o.select("o_custkey", ym.alias("ym"), midx.alias("midx"))
        .groupBy("o_custkey")
        .agg(F.min("ym").alias("cohort_month"), F.min("midx").alias("first_midx"))
    )
    return (
        o.select(
            "o_custkey",
            midx.alias("midx"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(fo, "o_custkey")
        .groupBy(
            "cohort_month",
            (F.col("midx") - F.col("first_midx")).alias("age_months"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            # ok-round: exact cents grid (2 dp)
            F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
        )
    )


CUSTOMER_COHORT_LTV_SQL = """
WITH o2 AS (
    SELECT o_custkey,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS midx,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
),
fo AS (
    SELECT o_custkey, min(ym) AS cohort_month, min(midx) AS first_midx
    FROM o2 GROUP BY o_custkey
)
SELECT f.cohort_month,
       o.midx - f.first_midx AS age_months,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders,
       -- ok-round: exact cents grid (2 dp)
       round(sum(o.cents) / 100.0, 2) AS revenue
FROM o2 o JOIN fo f USING (o_custkey)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# events_dau_mau


def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly DAU/MAU stickiness: average daily active users over
    the month's ACTIVE days, monthly active users, and their ratio —
    the product-engagement headline number (stickiness 1.0 = every
    monthly user shows up every active day; ~0.05 = drive-by).

    Exactness: active sets are exact distinct counts (one distinct
    pass on (month, day, user), reused for both numerator layers);
    avg_dau = sum_dau / n_active_days and stickiness = avg_dau / mau
    evaluate in one fixed double sequence from exact integers, each
    rounded once at 6 dp. UTC is pinned by load_table so day/month
    keys agree across engines.

    100 TB shape: one corpus-scale distinct shuffle on (month, day,
    user_id); the per-day counts, the month rollup, and the MAU
    distinct all run on the already-deduplicated (month, day, user)
    set (strictly smaller), and the final join is month-keyed
    metadata scale.
    """
    e = load_table(spark, sf_dir, "events")
    mdu = e.select(
        (F.year("ts") * 100 + F.month("ts")).cast("long").alias("month"),
        F.to_date("ts").alias("day"),
        "user_id",
    ).distinct()
    daily = mdu.groupBy("month", "day").agg(F.count(F.lit(1)).alias("dau"))
    monthly = daily.groupBy("month").agg(
        F.sum("dau").alias("sum_dau"),
        F.count(F.lit(1)).alias("n_active_days"),
    )
    mau = (
        mdu.select("month", "user_id")
        .distinct()
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("mau"))
    )
    # r8 conversion: avg_dau = D/days and stickiness = D/(days·mau)
    # are exact rationals — truncating integer division at 6 dp
    return monthly.join(mau, "month").select(
        "month",
        "n_active_days",
        (
            F.expr("(sum_dau * 1000000) div n_active_days").cast("double")
            / 1e6
        ).alias("avg_dau"),
        "mau",
        (
            F.expr("(sum_dau * 1000000) div (n_active_days * mau)")
            .cast("double") / 1e6
        ).alias("stickiness"),
    )


EVENTS_DAU_MAU_SQL = """
WITH mdu AS (
    SELECT DISTINCT CAST(year(ts) * 100 + month(ts) AS BIGINT) AS month,
           CAST(ts AS DATE) AS day, user_id
    FROM events
),
daily AS (SELECT month, day, count(*) AS dau FROM mdu GROUP BY month, day),
monthly AS (
    SELECT month, sum(dau) AS sum_dau, count(*) AS n_active_days
    FROM daily GROUP BY month
),
mau AS (
    SELECT month, count(*) AS mau
    FROM (SELECT DISTINCT month, user_id FROM mdu) GROUP BY month
)
SELECT m.month, CAST(m.n_active_days AS BIGINT) AS n_active_days,
       CAST((m.sum_dau * 1000000) // m.n_active_days AS DOUBLE)
           / 1000000.0 AS avg_dau,
       CAST(a.mau AS BIGINT) AS mau,
       CAST((m.sum_dau * 1000000) // (m.n_active_days * a.mau) AS DOUBLE)
           / 1000000.0 AS stickiness
FROM monthly m JOIN mau a USING (month)
"""


# ---------------------------------------------------------------------------
# orders_priority_mix_shift


def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority mix per month with month-over-month share drift
    — the composition-shift monitor (a priority whose share trends up
    is a process change upstream; the HHI/seasonality queries say how
    concentrated/when, this says WHAT is replacing what). First month
    of each priority reports drift 0.0 so the output is NULL-free.

    Exactness: counts exact integers; share = n / month_total divides
    once (window over the metadata-scale month×priority aggregate);
    the drift subtracts the UNROUNDED shares (lag over the same tiny
    table) and rounds once — both engines run the identical double
    sequence.

    100 TB shape: one partial-agg shuffle on (month, priority) — ≤
    months·5 groups; both windows run on the aggregate, never the
    fact table.
    """
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("month"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    share = F.col("n_orders").cast("double") / F.sum("n_orders").over(
        Window.partitionBy("month")
    )
    with_share = agg.select("month", "o_orderpriority", "n_orders", share.alias("_s"))
    drift = F.col("_s") - F.lag("_s").over(
        Window.partitionBy("o_orderpriority").orderBy("month")
    )
    return with_share.select(
        "month",
        "o_orderpriority",
        "n_orders",
        F.round("_s", 6).alias("share"),
        F.round(F.coalesce(drift, F.lit(0.0)), 6).alias("share_drift"),
    )


ORDERS_PRIORITY_MIX_SQL = """
WITH agg AS (
    SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS month,
           o_orderpriority, count(*) AS n_orders
    FROM orders GROUP BY 1, 2
),
s AS (
    SELECT month, o_orderpriority, n_orders,
           CAST(n_orders AS DOUBLE) / sum(n_orders) OVER (PARTITION BY month) AS _s
    FROM agg
)
SELECT month, o_orderpriority, CAST(n_orders AS BIGINT) AS n_orders,
       round(_s, 6) AS share,
       round(coalesce(_s - lag(_s) OVER (PARTITION BY o_orderpriority ORDER BY month),
                      0.0), 6) AS share_drift
FROM s
"""


# ---------------------------------------------------------------------------
# embedding_hubness


def embedding_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram of the within-cell kNN graph — the hubness
    screen: in a healthy embedding space in-degrees concentrate near
    k; a heavy tail (one vector appearing in thousands of top-k
    lists) is the classic high-dimensional ANN pathology that makes
    hub vectors swallow retrieval results and SemDeDup keep-lists.
    Zero-degree vectors (nobody's neighbor — isolates and singleton
    cells) are reported in the 0 bin, which is why the histogram
    right-joins the full vector set rather than just the edge list.

    Reuses ``embedding_knn_graph``'s exact plan (same trained cells,
    same ranking) and its oracle CTE chain, so this audit is oracled
    end to end through training + assignment + ranking + aggregation.

    100 TB shape: the kNN graph's cost (one corpus shuffle on cell)
    plus an edge-scale (n·k rows) partial agg on neighbor_id and a
    left join of the id column only; output is |distinct in-degree|
    rows.
    """
    from distributed_file_system_with_stream_processing_spark.plans import llm_ops7 as L7

    g = L7.embedding_knn_graph(spark, sf_dir)
    indeg = g.groupBy(F.col("neighbor_id").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    allv = load_table(spark, sf_dir, "embeddings").select("vec_id")
    deg = allv.join(indeg, "vec_id", "left").select(
        F.coalesce("d", F.lit(0)).cast("long").alias("in_degree")
    )
    return deg.groupBy("in_degree").agg(F.count(F.lit(1)).alias("n_vectors"))


def _hubness_sql() -> str:
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops7 import (
        _KNN_G_K,
        _knn_graph_cte,
    )

    return (
        _knn_graph_cte()
        + f""",
g AS (SELECT neighbor_id FROM rk WHERE rank <= {_KNN_G_K}),
indeg AS (SELECT neighbor_id, count(*) AS d FROM g GROUP BY neighbor_id),
deg AS (
    SELECT CAST(coalesce(i.d, 0) AS BIGINT) AS in_degree
    FROM embeddings a LEFT JOIN indeg i ON a.vec_id = i.neighbor_id
)
SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vectors
FROM deg GROUP BY in_degree
"""
    )


# ---------------------------------------------------------------------------
# events_user_gaps

_GAP_BUCKET_S = 3600


def events_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-inactivity-gap histogram: each user's MAXIMUM gap
    between consecutive events, bucketed by hour — the churn-risk
    profile (sessionization says where sessions split; this says how
    close each user has already come to disappearing). Single-event
    users have no gap and are excluded by construction.

    Exactness: gaps are integer epoch-second differences; ordering
    within a user by the integer second is enough — equal-second
    permutations change which neighbor pairs lag() sees but not the
    gap MULTISET (adjacent equal values produce the same differences
    in any order), so max_gap is deterministic. Bucket = integer
    floor division.

    100 TB shape: ONE shuffle on user_id; the lag window and the
    per-user max reuse its partitioning (groupBy key == window
    partition key, no second Exchange); the histogram rollup is
    metadata-scale.
    """
    e = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy(sec)
    gaps = e.select(
        "user_id", (sec - F.lag(sec).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(F.max("gap_s").alias("max_gap_s"))
        .groupBy(
            (F.col("max_gap_s") / _GAP_BUCKET_S).cast("long").alias("gap_hours")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


EVENTS_USER_GAPS_SQL = f"""
WITH g AS (
    SELECT user_id,
           epoch_us(ts) // 1000000
           - lag(epoch_us(ts) // 1000000) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
             ) AS gap_s
    FROM events
),
mx AS (
    SELECT user_id, max(gap_s) AS max_gap_s
    FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
)
SELECT CAST(floor(max_gap_s / {_GAP_BUCKET_S}) AS BIGINT) AS gap_hours,
       CAST(count(*) AS BIGINT) AS n_users
FROM mx GROUP BY 1
"""


# ---------------------------------------------------------------------------
# docs_quality_dup_lift

_QDL_GATE = 0.5


def docs_quality_dup_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate × exact-duplicate contingency with per-cell lift
    (observed / expected-under-independence) — the "are mirrors
    low-quality" dependence audit that decides whether a quality
    filter and a dedup pass are redundant or complementary: lift > 1
    on the (fail, dup) cell means the quality gate is already
    catching part of the duplicated mass.

    Semantics: quality is the registered heuristic
    (``functions.text.quality_score``, same arithmetic order as
    ``text_quality_score``'s oracle), gated at ≥ 0.5 (``_QDL_GATE``);
    duplicate = normalized text shared with ≥1 other doc
    (``dedup_exact``'s md5 groups).

    Exactness: cell counts exact integers; the gate compares the
    bit-lockstep double sequence; lift = n·total / (row_tot·col_tot)
    evaluates in one fixed double sequence over exact integers and
    rounds once at 6 dp. Marginals come from windows over the ≤4-row
    cell table.

    100 TB shape: one md5-keyed shuffle shared by the copy census and
    the join back (co-partitioned, AQE plans one exchange pair); the
    contingency rollup and its windows are metadata-scale.
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.operators._util import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    ws = T.words(F.col("text"))
    per_doc = d.select(
        F.md5(T.norm_text(F.col("text"))).alias("h"),
        (
            T.quality_score(
                F.size(ws).cast("long"),
                T.stopword_ratio(ws),
                T.punct_ratio(F.col("text")),
            )
            >= _QDL_GATE
        )
        .cast("long")
        .alias("quality_pass"),
    )
    copies = per_doc.groupBy("h").agg(F.count(F.lit(1)).alias("n_copies"))
    cells = (
        per_doc.join(copies, "h")
        .groupBy(
            "quality_pass",
            (F.col("n_copies") > 1).cast("long").alias("is_dup"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    row_t = F.sum("n_docs").over(Window.partitionBy("quality_pass"))
    col_t = F.sum("n_docs").over(Window.partitionBy("is_dup"))
    tot = F.sum("n_docs").over(Window.partitionBy())
    # r9 conversion (wave 3): lift = n·N/(row·col) on exact counts —
    # truncating integer division at 6 dp in decimal(38,0) ↔ HUGEINT
    return (
        cells.withColumn("_rt", row_t)
        .withColumn("_ct", col_t)
        .withColumn("_tot", tot)
        .select(
            "quality_pass",
            "is_dup",
            "n_docs",
            (
                F.expr(
                    "(cast(n_docs as decimal(38,0)) * _tot * 1000000)"
                    " div (cast(_rt as decimal(38,0)) * _ct)"
                ).cast("double")
                / 1e6
            ).alias("lift"),
        )
    )


DOCS_QUALITY_DUP_LIFT_SQL = rf"""
WITH w AS (
    SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h,
           CASE WHEN least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
                     CAST(0.25 AS DOUBLE)
                     + CAST(0.002 AS DOUBLE) * CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT)
                     + CAST(1.2 AS DOUBLE) * (CASE WHEN len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) > 0
                          THEN CAST(len(list_filter(list_filter(string_split_regex(text, '\s+'), x -> x <> ''), x -> list_contains(['the','a','and','of','to','in','is'], lower(x)))) AS DOUBLE)
                               / len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                          ELSE CAST(0.0 AS DOUBLE) END)
                     - CAST(3.0 AS DOUBLE) * (CASE WHEN length(text) > 0
                          THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
                          ELSE CAST(0.0 AS DOUBLE) END)))
                >= {_QDL_GATE} THEN 1 ELSE 0 END AS quality_pass
    FROM documents
),
copies AS (SELECT h, count(*) AS n_copies FROM w GROUP BY h),
cells AS (
    SELECT CAST(w.quality_pass AS BIGINT) AS quality_pass,
           CAST(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
           count(*) AS n_docs
    FROM w JOIN copies c USING (h)
    GROUP BY 1, 2
)
SELECT quality_pass, is_dup, CAST(n_docs AS BIGINT) AS n_docs,
       CAST((CAST(n_docs AS HUGEINT) * sum(n_docs) OVER () * 1000000)
            // (CAST(sum(n_docs) OVER (PARTITION BY quality_pass) AS HUGEINT)
                * sum(n_docs) OVER (PARTITION BY is_dup)) AS DOUBLE)
           / 1000000.0 AS lift
FROM cells
"""


# ---------------------------------------------------------------------------
# embedding_db_index

_DB_DIM = 64
_DB_MICRO = 1_000_000


def embedding_db_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label Davies-Bouldin component: RMS within-label scatter,
    the worst (scatter_i + scatter_j) / centroid-distance ratio over
    all other labels, and WHICH label attains it — the cluster-quality
    score that closes the embedding-QA family (margin stats give one
    corpus number, label drift gives raw centroid cosines; DB names
    the single worst-separated neighbor per label, which is the list
    a taxonomy owner actually triages).

    O(n) via the sum identity: mean ||x − c||² = E||x||² − ||c||²,
    so ONE corpus pass collects per-label component sums (micro-unit
    longs) and squared-norm sums (micro² in DECIMAL(38,0) ↔ DuckDB
    HUGEINT — both exact integers, identical when lowered to double);
    scatter, distances, and ratios then evaluate on the metadata-scale
    centroid table in the established lockstep folds (F.aggregate ↔
    list_sum(list_transform)), each output rounding once at 6 dp.

    100 TB shape: one label-keyed partial-agg shuffle (|labels|·dim
    integers of state), then a |labels|²-row centroid self-join — the
    corpus is touched once. The self-join is a BuildRight broadcast
    nested-loop on the METADATA table (the embedding_label_drift
    shape, plan-allowlisted).
    """
    from distributed_file_system_with_stream_processing_spark.functions import vector as V
    from distributed_file_system_with_stream_processing_spark.operators._util import spread

    e = spread(load_table(spark, sf_dir, "embeddings"))
    mu = F.transform(
        V.as_double(F.col("embedding")),
        lambda x: F.round(x * _DB_MICRO).cast("long"),
    )
    row_sq = F.aggregate(
        F.col("mu"),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, c: acc + (c * c).cast("decimal(38,0)"),
    )
    sums = (
        e.select(F.col("label").cast("long").alias("label"), mu.alias("mu"))
        .select("label", "mu", row_sq.alias("rsq"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rsq").alias("sq"),
            *[
                F.sum(F.element_at("mu", i + 1)).alias(f"s{i}")
                for i in range(_DB_DIM)
            ],
        )
    )
    cent = sums.select(
        "label",
        "n",
        F.array(
            *[
                (F.col(f"s{i}") / F.lit(float(_DB_MICRO))) / F.col("n")
                for i in range(_DB_DIM)
            ]
        ).alias("c"),
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.col("sq").cast("double")
                / F.lit(float(_DB_MICRO) * _DB_MICRO)
                / F.col("n")
                - F.aggregate(
                    F.array(
                        *[
                            (F.col(f"s{i}") / F.lit(float(_DB_MICRO))) / F.col("n")
                            for i in range(_DB_DIM)
                        ]
                    ),
                    F.lit(0.0),
                    lambda acc, t: acc + t * t,
                ),
            )
        ).alias("scatter"),
    )
    x, y = cent.alias("x"), cent.alias("y")
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("x.c"), F.col("y.c"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    ratio = (F.col("x.scatter") + F.col("y.scatter")) / dist
    w = Window.partitionBy("label").orderBy(F.desc("_r"), F.asc("nearest_label"))
    return (
        x.join(y, F.col("x.label") != F.col("y.label"))
        .select(
            F.col("x.label").alias("label"),
            F.col("x.scatter").alias("_sc"),
            F.col("y.label").alias("nearest_label"),
            ratio.alias("_r"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "label",
            F.round("_sc", 6).alias("scatter"),
            F.round("_r", 6).alias("db_index"),
            "nearest_label",
        )
    )


def _db_index_sql() -> str:
    sums = ", ".join(
        f"sum(mu[{i + 1}]) AS s{i}" for i in range(_DB_DIM)
    )
    comps = ", ".join(
        f"(s{i} / {float(_DB_MICRO)}) / n" for i in range(_DB_DIM)
    )
    return f"""
WITH e AS (
    SELECT CAST(label AS BIGINT) AS label,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(round(x * {_DB_MICRO}) AS BIGINT)) AS mu
    FROM embeddings
),
sums AS (
    SELECT label, count(*) AS n,
           sum(list_sum(list_transform(mu, c -> c * c))) AS sq,
           {sums}
    FROM e GROUP BY label
),
cent AS (
    SELECT label, n, [{comps}] AS c,
           sqrt(greatest(0.0,
               CAST(sq AS DOUBLE) / {float(_DB_MICRO) * _DB_MICRO} / n
               - list_sum(list_transform([{comps}], t -> t * t)))) AS scatter
    FROM sums
),
pairs AS (
    SELECT x.label AS label, x.scatter AS _sc, y.label AS nearest_label,
           (x.scatter + y.scatter)
           / sqrt(list_sum(list_transform(range(1, {_DB_DIM + 1}),
                                          i -> (x.c[i] - y.c[i]) * (x.c[i] - y.c[i])))) AS _r
    FROM cent x JOIN cent y ON x.label <> y.label
),
rk AS (
    SELECT label, _sc, nearest_label, _r,
           row_number() OVER (PARTITION BY label
                              ORDER BY _r DESC, nearest_label ASC) AS rn
    FROM pairs
)
SELECT label, round(_sc, 6) AS scatter, round(_r, 6) AS db_index, nearest_label
FROM rk WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# session_path_topk

_PATH_GAP_S = 1800
_PATH_TOPK = 20


def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_PATH_TOPK`` three-step event-type paths WITHIN sessions
    (30-min inactivity splits, ``events_sessionize``'s exact
    semantics) — session path mining: the transition matrix gives
    one-step probabilities; this surfaces the actual multi-step
    journeys ("view > view > purchase" vs "view > error > view") that
    funnel design reads.

    Determinism: in-session order is (ts, event_id) — the established
    sessionize tie-break — so lead() sees one well-defined successor
    everywhere; counts are exact integers and the top-k orders by
    (n desc, path asc).

    100 TB shape: ONE shuffle on user_id; the session flag, the
    running-sum session id, and both lead()s all run inside that
    partitioning (window keys share the user_id prefix — no second
    corpus Exchange), then a paths-cardinality rollup (≤ |types|³)
    and a metadata-scale top-k.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = e.withColumn(
        "is_new", F.when(gap.isNull() | (gap > _PATH_GAP_S), 1).otherwise(0)
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    paths = (
        sessions.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(ws).alias("t2"),
            F.lead("event_type", 2).over(ws).alias("t3"),
        )
        .filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .select(F.concat_ws(" > ", "t1", "t2", "t3").alias("path"))
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(_PATH_TOPK)
    )


SESSION_PATH_TOPK_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_part('epoch', ts) - date_part('epoch', lag(ts) OVER w) > {_PATH_GAP_S}
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts, event_id, event_type,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
),
steps AS (
    SELECT event_type AS t1,
           lead(event_type, 1) OVER ws AS t2,
           lead(event_type, 2) OVER ws AS t3
    FROM sessions
    WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
)
SELECT t1 || ' > ' || t2 || ' > ' || t3 AS path, CAST(count(*) AS BIGINT) AS n
FROM steps WHERE t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path ASC LIMIT {_PATH_TOPK}
"""


# ---------------------------------------------------------------------------
# minhash_threshold_sweep

_MH_SWEEP_HASHES = 12
_MH_SWEEP_MIN_AGREE = 6


def minhash_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-rate pricing curve for the MinHash path: for each
    signature-agreement threshold m in ``_MH_SWEEP_MIN_AGREE``..12
    (est. Jaccard m/12 = 0.5..1.0), how many docs keep-first MinHash
    dedup would drop and how many candidate pairs qualify — the
    ``simhash_threshold_sweep`` decision table for the OTHER
    registered dedup backbone, so a dedup owner can price both from
    one artifact each.

    Cumulative counts from ONE candidate pass (the
    explode(sequence(lo, hi)) trick): each dropped doc contributes a
    row for every threshold ≤ its MAXIMUM pair agreement; same for
    pairs. Agreement recovers exactly from the registered pair
    table's 6-dp estimate (round(est·12) — est is the truncating
    (a·10⁶ div 12)/10⁶ since r9, whose error is < 1.2e-5, far under
    the 0.5 recovery gate for a ≤ 12).

    100 TB shape: the banded (band, key) equi-join (never all-pairs)
    + two pair-scale aggregations + a 7-row output.
    """
    pairs = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        n=3,
        num_hashes=_MH_SWEEP_HASHES,
        bands=6,
    ).select(
        "doc_id_a",
        "doc_id_b",
        F.round(F.col("est_jaccard") * _MH_SWEEP_HASHES).cast("long").alias("agree"),
    )
    # r10: eager checkpoint of the POST-FILTER pair table (pair-scale,
    # tiny). r9 left this unpersisted to avoid pinning executor memory
    # for the session, but the cost was the corpus-scale LSH banding
    # self-join running twice (dropped + pair_curve branches); a
    # localCheckpoint's blocks are freed when the plan is GC'd — the
    # same lifetime every other plan_ckpt site relies on — so the
    # leak concern does not apply.
    pairs = _plan_ckpt(pairs.filter(F.col("agree") >= _MH_SWEEP_MIN_AGREE))
    lo = F.lit(_MH_SWEEP_MIN_AGREE)
    dropped = (
        pairs.groupBy(F.col("doc_id_b").alias("drop_id"))
        .agg(F.max("agree").alias("ma"))
        .select(F.explode(F.sequence(lo, F.col("ma"))).alias("min_agree"))
        .groupBy("min_agree")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    pair_curve = (
        pairs.select(F.explode(F.sequence(lo, F.col("agree"))).alias("min_agree"))
        .groupBy("min_agree")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    grid = spark.range(_MH_SWEEP_MIN_AGREE, _MH_SWEEP_HASHES + 1).select(
        F.col("id").cast("int").alias("min_agree")
    )
    return (
        grid.join(dropped, "min_agree", "left")
        .join(pair_curve, "min_agree", "left")
        .select(
            F.col("min_agree").cast("long").alias("min_agree"),
            # ok-round: boundary-free rational — k/12·10⁶ mod 1 is
            # never 0.5 (8k mod 12 ∈ {0,4,8}), so both engines round
            # the same side for every k
            F.round(
                F.col("min_agree") / F.lit(float(_MH_SWEEP_HASHES)), 6
            ).alias("est_jaccard_threshold"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        )
    )


def _minhash_sweep_sql() -> str:
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops import (
        _MINHASH_PAIRS_BODY,
    )

    lo, hi = _MH_SWEEP_MIN_AGREE, _MH_SWEEP_HASHES
    return (
        _MINHASH_PAIRS_BODY
        + f""",
ag AS (
    SELECT da, db,
           list_sum(list_transform(range(1, {hi + 1}),
               i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS agree
    FROM cand
),
agf AS (SELECT da, db, agree FROM ag WHERE agree >= {lo}),
mx AS (SELECT db AS drop_id, max(agree) AS ma FROM agf GROUP BY db),
dropped AS (
    SELECT t.m AS min_agree, count(*) AS n_dropped
    FROM mx JOIN (SELECT unnest(range({lo}, {hi + 1})) AS m) t ON t.m <= mx.ma
    GROUP BY t.m
),
pc AS (
    SELECT t.m AS min_agree, count(*) AS n_pairs
    FROM agf JOIN (SELECT unnest(range({lo}, {hi + 1})) AS m) t ON t.m <= agf.agree
    GROUP BY t.m
)
SELECT CAST(g.m AS BIGINT) AS min_agree,
       -- ok-round: boundary-free rational (k/12 never half-grid at 6 dp)
       round(g.m / CAST({hi} AS DOUBLE), 6) AS est_jaccard_threshold,
       CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs
FROM (SELECT unnest(range({lo}, {hi + 1})) AS m) g
LEFT JOIN dropped d ON g.m = d.min_agree
LEFT JOIN pc ON g.m = pc.min_agree
"""
    )


# ---------------------------------------------------------------------------
# quality_ppl_correlation

_QPC_MICRO = 1_000_000


def quality_ppl_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between the two registered per-doc quality
    signals — heuristic quality score vs unigram-LM log-loss — the
    "are my filters redundant" audit: r near −1 means the cheap
    heuristic already orders docs like the LM does (skip the LM pass
    at ingest); r near 0 means they prune different mass and both
    earn their place in the curation funnel.

    Exactness: per-doc log-loss uses ``docs_unigram_perplexity``'s
    exact discipline (per-term log-prob micro-quantized ONCE, exact
    integer doc fold), then BOTH per-doc scalars quantize to micro
    ints (x = avg log-loss, y = heuristic quality); the five Pearson
    sums (Σx, Σy, Σxy, Σx², Σy²) are exact integer folds in
    DECIMAL(38,0) ↔ HUGEINT, and r's numerator/denominator evaluate
    on exact integers lowered to double once, rounding at 6 dp.

    100 TB shape: the perplexity backbone's three shuffles ((doc,
    term) tf, term counts, doc fold) + a doc_id-co-partitioned join
    to the scan-side quality scalars + a 1-row total fold. The corpus
    total is the allow-listed 1-row BuildRight broadcast.
    """
    from pyspark.sql.functions import broadcast

    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.operators._util import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", "text", T.words(F.col("text")).alias("ws"))
    ex = (
        toks.select("doc_id", F.explode_outer("ws").alias("w"))
        .filter(F.col("w").isNotNull())
        .select("doc_id", F.lower(F.col("w")).alias("term"))
    )
    # r10 optimization: the old shape aggregated a corpus-scale
    # (doc, term) tf table whose two consumers (term rollup + scoring
    # join) re-derived it per branch (42 stages / 10 Exchanges
    # measured). The per-doc statistic only needs per-TOKEN log-probs:
    # Σ_(doc,term) tf·l_mu ≡ Σ_token l_mu and Σ tf ≡ count(*), exact
    # integers either way. So: ONE vocab-scale term-count table (the
    # size-gated broadcast — hinted under the row gate, key-shuffle
    # fallback above it), then one corpus pass scores tokens directly
    # — the (doc, term) Exchange and the duplicated subtrees are gone.
    from distributed_file_system_with_stream_processing_spark.operators._util import (
        gate_broadcast,
    )

    ct = ex.groupBy("term").agg(F.count(F.lit(1)).alias("ctot"))
    ct, _ = gate_broadcast(ct)
    n_tot = ct.agg(F.sum("ctot").alias("n_corpus"))
    # ok-round: irrational (ln) quantization
    l_mu = F.round(
        F.log(F.col("ctot").cast("double") / F.col("n_corpus")) * _QPC_MICRO
    ).cast("long")
    xs = (
        ex.join(ct, "term")
        .crossJoin(broadcast(n_tot))
        .select("doc_id", l_mu.alias("_l"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("_l").alias("_s"))
        .select(
            "doc_id",
            # r9 conversion (wave 3): x = −Σtl/Σtf is an exact signed
            # integer rational — truncating integer division (both
            # engines truncate toward zero), replacing the
            # round-to-nearest that could split on an exact .5
            F.expr("(-_s) div n_tokens").cast("long").alias("x"),
        )
    )
    ws = T.words(F.col("text"))
    ys = d.select(
        "doc_id",
        F.round(
            T.quality_score(
                F.size(ws).cast("long"),
                T.stopword_ratio(ws),
                T.punct_ratio(F.col("text")),
            )
            * _QPC_MICRO
        ).cast("long").alias("y"),
    )
    j = xs.join(ys, "doc_id")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - dec("sx") * dec("sy")).cast("double")
    den = F.sqrt((n * F.col("sxx") - dec("sx") * dec("sx")).cast("double")) * F.sqrt(
        (n * F.col("syy") - dec("sy") * dec("sy")).cast("double")
    )
    # Zero variance in either signal ⇒ r undefined ⇒ pin to 0.0 (the
    # NULL-free output contract: the driver's value-hash cannot order
    # NULLs). den > 0 is evaluated on the exact integer sums, so the
    # guard itself never divides.
    return sums.select(
        F.col("n").cast("long").alias("n_docs"),
        # ok-round: irrational (sqrt in the denominator)
        F.when(den > 0, F.round(num / den, 6)).otherwise(F.lit(0.0)).alias("pearson_r"),
    )


def _quality_ppl_corr_sql() -> str:
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops import _WS

    return rf"""
WITH toks AS (SELECT doc_id, text, {_WS} AS ws FROM documents),
ex AS (SELECT doc_id, lower(unnest(ws)) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
ct AS (SELECT term, sum(tf) AS ctot FROM tf GROUP BY term),
nc AS (SELECT sum(ctot) AS n_corpus FROM ct),
xs AS (
    SELECT tf.doc_id,
           -- outer: r9 truncating conversion; inner ln quantizer is
           -- ok-round: irrational (ln) quantization
           CAST((-(sum(tf.tf * CAST(round(ln(CAST(ct.ctot AS DOUBLE) / nc.n_corpus)
                                          * {_QPC_MICRO}) AS BIGINT)))
                 // sum(tf.tf)) AS BIGINT) AS x
    FROM tf JOIN ct USING (term) CROSS JOIN nc
    GROUP BY tf.doc_id
),
ys AS (
    SELECT doc_id,
           -- ok-round: float-coefficient quality composite
           CAST(round(least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
                CAST(0.25 AS DOUBLE)
                + CAST(0.002 AS DOUBLE) * CAST(len(ws) AS BIGINT)
                + CAST(1.2 AS DOUBLE) * (CASE WHEN len(ws) > 0
                     THEN CAST(len(list_filter(ws, x -> list_contains(['the','a','and','of','to','in','is'], lower(x)))) AS DOUBLE) / len(ws)
                     ELSE CAST(0.0 AS DOUBLE) END)
                - CAST(3.0 AS DOUBLE) * (CASE WHEN length(text) > 0
                     THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
                     ELSE CAST(0.0 AS DOUBLE) END)))
                * {_QPC_MICRO}) AS BIGINT) AS y
    FROM toks
),
j AS (SELECT x, y FROM xs JOIN ys USING (doc_id)),
s AS (
    SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(CAST(x AS HUGEINT) * y) AS sxy,
           sum(CAST(x AS HUGEINT) * x) AS sxx,
           sum(CAST(y AS HUGEINT) * y) AS syy
    FROM j
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
             AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
            -- ok-round: irrational (sqrt in the denominator)
            THEN round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                       / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                          * sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))),
                  6)
            ELSE CAST(0.0 AS DOUBLE) END AS pearson_r
FROM s
"""


# ---------------------------------------------------------------------------
# part_return_rates

_RR_MIN_SUPPORT = 50
_RR_TOPK = 15


def part_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate screen by part brand: the ``_RR_TOPK`` brands with
    the highest share of returned line items (l_returnflag = 'R'),
    with a minimum-support floor so one-item brands can't top the
    list — the supply-chain quality-control cut that q10 (who
    returned) and supplier_fulfillment_lag (how late) don't answer:
    WHAT is coming back.

    Exactness: counts exact integers; rate divides once; ordering
    (rate desc unrounded, brand asc) is deterministic because the
    rate is a ratio of exact integers — identical double bits in
    both engines.

    100 TB shape: lineitem scans with only 3 columns; part is the
    standard broadcast dim; one partial-agg shuffle on p_brand
    (≤ dozens of groups); the top-k sorts the tiny aggregate.
    """
    from pyspark.sql.functions import broadcast

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    agg = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).cast("long").alias("n_returned"),
        )
        .filter(F.col("n_items") >= _RR_MIN_SUPPORT)
    )
    rate = F.col("n_returned").cast("double") / F.col("n_items")
    return (
        agg.select(
            "p_brand", "n_items", "n_returned", rate.alias("_r")
        )
        .orderBy(F.desc("_r"), F.asc("p_brand"))
        .limit(_RR_TOPK)
        .select(
            "p_brand",
            "n_items",
            "n_returned",
            # r9 conversion (wave 3): truncating integer division at
            # 6 dp (ordering stays on the raw-quotient _r — identical
            # double bits in both engines)
            (
                F.expr("(n_returned * 1000000) div n_items").cast("double")
                / 1e6
            ).alias("return_rate"),
        )
    )


PART_RETURN_RATES_SQL = f"""
WITH agg AS (
    SELECT p.p_brand, count(*) AS n_items,
           sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returned
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    HAVING count(*) >= {_RR_MIN_SUPPORT}
)
SELECT p_brand, CAST(n_items AS BIGINT) AS n_items,
       CAST(n_returned AS BIGINT) AS n_returned,
       CAST((n_returned * 1000000) // n_items AS DOUBLE) / 1000000.0
           AS return_rate
FROM agg
ORDER BY CAST(n_returned AS DOUBLE) / n_items DESC, p_brand ASC
LIMIT {_RR_TOPK}
"""


# ---------------------------------------------------------------------------
# docs_char_class_profile


def docs_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per language: shares of
    alphabetic / digit / whitespace / punctuation / other characters
    — the cheap encoding-health screen that catches mojibake, wrongly
    routed markup, and numeric-table pages (digit share spikes)
    before any tokenizer sees them.

    Exactness: per-class counts come from length-after-strip deltas
    (exact integers, the punct_ratio technique, one regexp per
    class); shares divide the per-lang integer totals once, rounded
    at 6 dp.

    100 TB shape: a scan-side projection (5 integer columns per doc)
    into one partial-agg shuffle on lang (≤ dozens of groups) — the
    map side collapses each partition to |langs| rows.
    """
    d = load_table(spark, sf_dir, "documents")
    n_all = F.length("text")

    def n_class(pat: str):
        return n_all - F.length(F.regexp_replace(F.col("text"), pat, ""))

    per = d.select(
        "lang",
        n_all.cast("long").alias("nc"),
        n_class(r"[A-Za-z]").cast("long").alias("na"),
        n_class(r"[0-9]").cast("long").alias("nd"),
        n_class(r"\s").cast("long").alias("nw"),
        n_class(r"[.,!?;:]").cast("long").alias("np"),
    )
    agg = per.groupBy("lang").agg(
        F.sum("nc").alias("n_chars"),
        F.sum("na").alias("a"),
        F.sum("nd").alias("d"),
        F.sum("nw").alias("w"),
        F.sum("np").alias("p"),
    )
    # r9 conversion (wave 3): truncating integer division at 6 dp
    share = lambda c: (  # noqa: E731
        F.expr(f"({c} * 1000000) div n_chars").cast("double") / 1e6
    )
    return agg.select(
        "lang",
        "n_chars",
        share("a").alias("alpha_share"),
        share("d").alias("digit_share"),
        share("w").alias("space_share"),
        share("p").alias("punct_share"),
        (
            F.expr("((n_chars - a - d - w - p) * 1000000) div n_chars")
            .cast("double") / 1e6
        ).alias("other_share"),
    )


DOCS_CHAR_CLASS_SQL = r"""
WITH per AS (
    SELECT lang, length(text) AS nc,
           length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS na,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS nd,
           length(text) - length(regexp_replace(text, '\s', '', 'g')) AS nw,
           length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS np
    FROM documents
),
agg AS (
    SELECT lang, sum(nc) AS n_chars, sum(na) AS a, sum(nd) AS d,
           sum(nw) AS w, sum(np) AS p
    FROM per GROUP BY lang
)
SELECT lang, CAST(n_chars AS BIGINT) AS n_chars,
       CAST((a * 1000000) // n_chars AS DOUBLE) / 1000000.0 AS alpha_share,
       CAST((d * 1000000) // n_chars AS DOUBLE) / 1000000.0 AS digit_share,
       CAST((w * 1000000) // n_chars AS DOUBLE) / 1000000.0 AS space_share,
       CAST((p * 1000000) // n_chars AS DOUBLE) / 1000000.0 AS punct_share,
       CAST(((n_chars - a - d - w - p) * 1000000) // n_chars AS DOUBLE)
           / 1000000.0 AS other_share
FROM agg
"""


# ---------------------------------------------------------------------------
# ann_recall_audit

_ARA_K = 5


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the trained-IVF ANN path against the
    exact brute-force top-5 — the ANN counterpart of
    ``lsh_recall_curve``: both registered retrieval paths
    (``ann_ivf_trained``, ``ann_cosine_topk``) are oracled
    individually; this query grades one against the other and is
    itself oracled END TO END (the DuckDB twin chains the
    unrolled-Lloyd + probe-3 CTE into the exact-rank CTE and computes
    the same intersection), so the driver hash covers the entire
    audit: training, probing, both rankings, and the recall join.

    The test suite pins a recall floor (tests/test_ann.py); this
    surfaces the full per-query distribution as a first-class output
    — which probe sets are under-served, not just the mean.

    Exactness: both top-5 sets are deterministic (bit-lockstep cosine,
    (sim desc, id) tie-break); hits and recall are exact integer
    counts and one rounded ratio.

    100 TB shape: the two proven ANN shapes (base never shuffles;
    queries broadcast) + a |Q|·k-row join — audit cost is the two
    retrievals, the comparison is metadata-scale.
    """
    from distributed_file_system_with_stream_processing_spark.operators import (
        similarity as S,
    )
    from distributed_file_system_with_stream_processing_spark.plans import _backbones as B

    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, query_ids_below=10, k=_ARA_K).select(
        "query_id", "neighbor_id"
    )
    # r8: grade the SAME persisted table ann_ivf_trained returns
    # (identical parameterization — n_cells=16, probe 3, k=_ARA_K=5);
    # through r7 this retrained the cells inline per run
    ivf = B.ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
            # r8 conversion: exact truncating integer-division rate
            (
                F.expr("(sum(coalesce(hit, 0)) * 1000000) div count(1)")
                .cast("double") / 1e6
            ).alias("recall"),
        )
    )


def _ann_recall_sql() -> str:
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops import _DOT
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops2 import (
        ANN_IVF_TRAINED_SQL,
    )

    body = ANN_IVF_TRAINED_SQL.split("SELECT query_id, neighbor_id, round")[0]
    return (
        body
        + f""",
q2 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       FROM embeddings WHERE vec_id < 10),
ex_sim AS (
    SELECT q2.query_id, f.vec_id AS neighbor_id,
           {_DOT.format(a='qv', b='f.v')} /
           (sqrt({_DOT.format(a='qv', b='qv')}) * sqrt({_DOT.format(a='f.v', b='f.v')})) AS s
    FROM q2 CROSS JOIN fin f),
ex_rk AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s DESC, neighbor_id ASC) AS rank
    FROM ex_sim)
SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN iv.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST((sum(CASE WHEN iv.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1000000) // count(*) AS DOUBLE) / 1000000.0 AS recall
FROM (SELECT query_id, neighbor_id FROM ex_rk WHERE rank <= {_ARA_K}) ex
LEFT JOIN (SELECT query_id, neighbor_id FROM rk WHERE rank <= {_ARA_K}) iv
  USING (query_id, neighbor_id)
GROUP BY ex.query_id
"""
    )


# ---------------------------------------------------------------------------
# docs_dedup_survivor_quality


def docs_dedup_survivor_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does keep-FIRST dedup keep the BEST copy? Over every NEAR-dup
    cluster (MinHash-LSH candidate pairs -> connected components, the
    registered ``dedup_clusters`` backbone): how often the kept doc
    (min doc_id per cluster - the keep-first canonical) is the
    (tied-)highest-quality member, and the average quality regret
    (best-member quality minus kept quality) - the policy audit that
    decides whether keep-first should become keep-best BEFORE a
    100 TB dedup run burns the better variant. (Exact-dup groups are
    useless here: byte-identical copies tie on every text-derived
    score by construction - near-dup clusters are where the policy
    actually bites.)

    Exactness: per-doc quality micro-quantizes once (the established
    heuristic); clusters come from the proven deterministic CC; kept
    quality is min_by/arg_min on the UNIQUE doc id; the regret sum is
    an exact integer fold and the two ratios divide once. A corpus
    with no clusters reports the vacuous (1.0 share, 0.0 regret) -
    never NULL (the driver's value-hash cannot order NULLs).

    100 TB shape: the minhash-banding + large-star/small-star CC
    recipe (diameter-independent, the semantic_dedup economics) is the
    session-persisted backbone (plans/_backbones.py, r6 verdict #3 —
    computed once per session, this query reads the materialized CC
    table), then one cluster-keyed agg over the CLUSTER-member-scale
    table (quality scalars ride along as one integer) and a 1-row fold.
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.operators._util import spread
    from distributed_file_system_with_stream_processing_spark.plans import _backbones as B

    d = spread(load_table(spark, sf_dir, "documents"))
    cc = B.minhash_cc(spark, sf_dir)
    ws = T.words(F.col("text"))
    qual = d.select(
        "doc_id",
        F.round(
            T.quality_score(
                F.size(ws).cast("long"),
                T.stopword_ratio(ws),
                T.punct_ratio(F.col("text")),
            )
            * 1_000_000
        ).cast("long").alias("q_mu"),
    )
    members = cc.join(qual, cc.node == qual.doc_id).select(
        "cluster_id", "doc_id", "q_mu"
    )
    return survivor_fold(members)


def survivor_fold(members: DataFrame) -> DataFrame:
    """The keep-first-vs-keep-best fold over (cluster_id, doc_id,
    q_mu) membership rows - split out so planted-fixture tests can
    feed explicit clusters with known quality and assert exact
    share/regret values."""
    groups = members.groupBy("cluster_id").agg(
        F.min_by("q_mu", "doc_id").alias("kept_q"),
        F.max("q_mu").alias("best_q"),
    )
    # r8 conversion: share and regret are exact rationals of the
    # integer fold — truncating integer division at 6 dp (regret is
    # in quality units: Σdiff_mu div n IS the 6 dp mean)
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(
            F.expr(
                "(sum(cast(kept_q = best_q as long)) * 1000000) div count(1)"
            ).cast("double")
            / 1e6,
            F.lit(1.0),
        ).alias("kept_best_share"),
        F.coalesce(
            F.expr("sum(best_q - kept_q) div count(1)").cast("double") / 1e6,
            F.lit(0.0),
        ).alias("avg_quality_regret"),
    )


_QUALITY_MU_SQL = r"""-- ok-round: float-coefficient quality composite
CAST(round(least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
                CAST(0.25 AS DOUBLE)
                + CAST(0.002 AS DOUBLE) * CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT)
                + CAST(1.2 AS DOUBLE) * (CASE WHEN len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) > 0
                     THEN CAST(len(list_filter(list_filter(string_split_regex(text, '\s+'), x -> x <> ''), x -> list_contains(['the','a','and','of','to','in','is'], lower(x)))) AS DOUBLE)
                          / len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                     ELSE CAST(0.0 AS DOUBLE) END)
                - CAST(3.0 AS DOUBLE) * (CASE WHEN length(text) > 0
                     THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)
                     ELSE CAST(0.0 AS DOUBLE) END)))
                * 1000000) AS BIGINT)"""


def _survivor_sql() -> str:
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops import (
        DEDUP_CLUSTERS_SQL,
    )

    body = DEDUP_CLUSTERS_SQL.split("SELECT node AS doc_id")[0]
    return (
        body
        + f""",
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
q AS (SELECT doc_id, {_QUALITY_MU_SQL} AS q_mu FROM documents),
g AS (
    SELECT cc.cluster_id,
           arg_min(q.q_mu, cc.node) AS kept_q,
           max(q.q_mu) AS best_q
    FROM cc JOIN q ON cc.node = q.doc_id
    GROUP BY cc.cluster_id
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       coalesce(CAST((sum(CASE WHEN kept_q = best_q THEN 1 ELSE 0 END)
                      * 1000000) // count(*) AS DOUBLE) / 1000000.0, 1.0)
           AS kept_best_share,
       coalesce(CAST(sum(best_q - kept_q) // count(*) AS DOUBLE) / 1000000.0,
                0.0) AS avg_quality_regret
FROM g
"""
    )


# ---------------------------------------------------------------------------
# source_token_entropy

_STE_NANO = 1_000_000_000


def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the token distribution (plus
    type/token counts) — the lexical-diversity number behind the
    temperature-mix decision: a source whose entropy is far below its
    size (boilerplate, templated pages) contributes fewer effective
    bits than its token count suggests; the per-source complement of
    ``docs_kl_by_source``'s drift-from-corpus view.

    Order-free exactness (the chi-square/contingency discipline):
    each term's −p·ln p contribution is computed from exact integer
    (count, total) inputs in one fixed double sequence and
    nano-quantized PER TERM, so the per-source reduction is an exact
    integer sum — no global double accumulation. Entropy = Σ/1e9,
    rounded once.

    100 TB shape: one (source, term) partial-agg shuffle (the tfidf
    backbone's key), per-source totals derive from the TERM table
    (no second corpus pass) and join back broadcast; output is
    |sources| rows.
    """
    from pyspark.sql.functions import broadcast

    from distributed_file_system_with_stream_processing_spark.functions import text as T
    from distributed_file_system_with_stream_processing_spark.operators._util import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    ex = (
        d.select("source", F.explode_outer(T.words(F.col("text"))).alias("w"))
        .filter(F.col("w").isNotNull())
        .select("source", F.lower("w").alias("term"))
    )
    tc = ex.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    totals = tc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    p = F.col("c").cast("double") / F.col("n_tokens")
    contrib = F.round(-(p * F.log(p)) * _STE_NANO).cast("long")
    ent = (
        tc.join(broadcast(totals), "source")
        .select("source", contrib.alias("e_nano"))
        .groupBy("source")
        .agg(F.sum("e_nano").alias("s"))
    )
    return totals.join(ent, "source").select(
        "source",
        "n_tokens",
        "n_types",
        # ok-round: exact nano grid (6 dp)
        F.round(F.col("s").cast("double") / _STE_NANO, 6).alias("entropy"),
    )


SOURCE_TOKEN_ENTROPY_SQL = rf"""
WITH ex AS (
    SELECT source, lower(w) AS term
    FROM (SELECT source,
                 unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
          FROM documents)
),
tc AS (SELECT source, term, count(*) AS c FROM ex GROUP BY source, term),
totals AS (
    SELECT source, sum(c) AS n_tokens, count(*) AS n_types
    FROM tc GROUP BY source
),
ent AS (
    SELECT tc.source,
           -- ok-round: irrational (p*ln p entropy term)
           sum(CAST(round(-(CAST(tc.c AS DOUBLE) / t.n_tokens
                            * ln(CAST(tc.c AS DOUBLE) / t.n_tokens))
                          * {_STE_NANO}) AS BIGINT)) AS s
    FROM tc JOIN totals t USING (source)
    GROUP BY tc.source
)
SELECT t.source, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(t.n_types AS BIGINT) AS n_types,
       -- ok-round: exact nano grid (6 dp)
       round(CAST(e.s AS DOUBLE) / {_STE_NANO}, 6) AS entropy
FROM totals t JOIN ent e USING (source)
"""


# ---------------------------------------------------------------------------
# customer_order_frequency


def customer_order_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-per-customer frequency histogram with share — the
    repeat-purchase distribution (one-timers vs regulars) that the
    RFM segmentation summarizes into quartiles; the raw curve is what
    a retention team plots first.

    Exactness: two exact integer rollups; share divides the integer
    totals once (window over the tiny histogram).

    100 TB shape: one custkey partial-agg shuffle, then a histogram
    rollup on the per-customer counts (≤ hundreds of distinct
    frequencies) — metadata-scale output.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    hist = per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    # r9 conversion (wave 3): truncating integer division at 6 dp
    return hist.withColumn(
        "_t", F.sum("n_customers").over(Window.partitionBy())
    ).select(
        F.col("n_orders").cast("long").alias("n_orders"),
        "n_customers",
        (
            F.expr("(n_customers * 1000000) div _t").cast("double") / 1e6
        ).alias("share"),
    )


CUSTOMER_ORDER_FREQ_SQL = """
WITH pc AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey),
h AS (SELECT n_orders, count(*) AS n_customers FROM pc GROUP BY n_orders)
SELECT CAST(n_orders AS BIGINT) AS n_orders,
       CAST(n_customers AS BIGINT) AS n_customers,
       CAST((n_customers * 1000000) // sum(n_customers) OVER () AS DOUBLE)
           / 1000000.0 AS share
FROM h
"""


QUERIES = {
    "lsh_recall_curve": lsh_recall_curve,
    "customer_cohort_ltv": customer_cohort_ltv,
    "events_dau_mau": events_dau_mau,
    "orders_priority_mix_shift": orders_priority_mix_shift,
    "embedding_hubness": embedding_hubness,
    "events_user_gaps": events_user_gaps,
    "docs_quality_dup_lift": docs_quality_dup_lift,
    "embedding_db_index": embedding_db_index,
    "session_path_topk": session_path_topk,
    "minhash_threshold_sweep": minhash_threshold_sweep,
    "quality_ppl_correlation": quality_ppl_correlation,
    "part_return_rates": part_return_rates,
    "docs_char_class_profile": docs_char_class_profile,
    "ann_recall_audit": ann_recall_audit,
    "docs_dedup_survivor_quality": docs_dedup_survivor_quality,
    "source_token_entropy": source_token_entropy,
    "customer_order_frequency": customer_order_frequency,
}

ORACLES = {
    "lsh_recall_curve": _lsh_recall_sql(),
    "customer_cohort_ltv": CUSTOMER_COHORT_LTV_SQL,
    "events_dau_mau": EVENTS_DAU_MAU_SQL,
    "orders_priority_mix_shift": ORDERS_PRIORITY_MIX_SQL,
    "embedding_hubness": _hubness_sql(),
    "events_user_gaps": EVENTS_USER_GAPS_SQL,
    "docs_quality_dup_lift": DOCS_QUALITY_DUP_LIFT_SQL,
    "embedding_db_index": _db_index_sql(),
    "session_path_topk": SESSION_PATH_TOPK_SQL,
    "minhash_threshold_sweep": _minhash_sweep_sql(),
    "quality_ppl_correlation": _quality_ppl_corr_sql(),
    "part_return_rates": PART_RETURN_RATES_SQL,
    "docs_char_class_profile": DOCS_CHAR_CLASS_SQL,
    "ann_recall_audit": _ann_recall_sql(),
    "docs_dedup_survivor_quality": _survivor_sql(),
    "source_token_entropy": SOURCE_TOKEN_ENTROPY_SQL,
    "customer_order_frequency": CUSTOMER_ORDER_FREQ_SQL,
}
