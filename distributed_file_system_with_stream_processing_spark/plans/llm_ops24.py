"""The KMV SET-OPERATION family plus the weighted sample and two more
log-histogram faces — all fully oracled, all deterministic-sketch
discipline (the estimate is a pure integer function of the data, so
DuckDB reproduces it bit-for-bit).

- ``split_leakage_kmv``         — train→val/test shingle-overlap
  estimate from per-split KMV sketches (Beyer et al., SIGMOD 2007 set
  operations on k-minimum-values synopses): the decontamination audit
  WITHOUT the exact shingle join ``cross_source_leakage`` prices.
- ``source_containment_kmv``    — pairwise source shingle Jaccard AND
  both directed containments from per-source sketches; the "is crawl
  B inside crawl A" triage table at sketch cost.
- ``events_audience_overlap_kmv`` — pairwise event-type user-audience
  overlap (union/intersection estimates) from k longs per type; the
  sketch face of the exact ``events_type_overlap``.
- ``docs_priority_sample``      — deterministic PRIORITY sample
  (Duffield, Lund & Thorup 2007; weight = n_chars, uniform replaced
  by the portable hash) — the byte-budget eyeball panel next to the
  uniform ``docs_sample_bottomk``. Batch twin of PrioritySampleOp.
- ``events_interarrival_loghist`` — per-type arrival-gap percentiles
  via the γ=2 log-histogram (the queueing cadence monitor; gaps are
  consecutive diffs of the per-type SORTED timestamp multiset, so the
  histogram is deterministic even under timestamp ties).
- ``user_lifetime_loghist``     — per first-seen-week cohort, the
  user lifetime (last−first event) percentile sketch; tz-free
  arithmetic calendar (epoch-week), the events_dow_hour convention.

Sketch-accuracy checks against the exact answers live in
tests/test_staged_queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_file_system_with_stream_processing_spark.functions import text as T
from distributed_file_system_with_stream_processing_spark.operators._util import spread
from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
from distributed_file_system_with_stream_processing_spark.streaming.ops import (
    LogHistQuantileOp,
    PrioritySampleOp,
)

_SPACE = 1 << 32
_HASH32_SQL = "('0x' || substr(md5({x}), 1, 8))::BIGINT"
_WS_SQL = r"list_filter(string_split_regex(text, '\s+'), w -> w <> '')"


def _shingle_hash_sql(n: int) -> str:
    """DuckDB CTE body: DISTINCT (source-ish col must be added by the
    caller) shingle hash32 per document row — mirror of
    ``T.hash32(explode(T.shingles(text, n)))``."""
    return f"""
    SELECT {{key}} AS key, {_HASH32_SQL.format(x='s')} AS h
    FROM (
        SELECT {{key_src}},
               unnest(list_distinct(
                   CASE WHEN len(ws) >= {n}
                        THEN list_transform(range(1, len(ws) - {n} + 2),
                                            i -> array_to_string(ws[i:i+{n - 1}], ' '))
                        ELSE [] END)) AS s
        FROM (SELECT {{key_src_inner}}, {_WS_SQL} AS ws FROM documents)
    )"""


def _kmv_sketch(base: DataFrame, k: int) -> DataFrame:
    """(key, h)-distinct frame → one row per key with the sorted
    k-minimum sketch array. ONE shuffle (the rank window); the sketch
    table is |keys| rows of k longs — metadata-scale from any corpus."""
    w = Window.partitionBy("key").orderBy("h")
    return (
        base.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("key")
        .agg(F.sort_array(F.collect_list("h")).alias("sk"))
    )


def _kmv_est(col: str, k: int) -> str:
    """SQL-text KMV estimator on a sorted sketch array column: exact
    below k, (k−1)·2³² div h_k past it (Bar-Yossef et al. 2002)."""
    return (
        f"case when size({col}) < {k} then cast(size({col}) as bigint) "
        f"else (cast({k - 1} as bigint) * {_SPACE}) div element_at({col}, -1) end"
    )


# ---------------------------------------------------------------------------
# events_audience_overlap_kmv

_AO_K = 64


def events_audience_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise event-type AUDIENCE overlap from KMV sketches: the
    k-minimum union sketch of two keys is the k smallest of the merged
    per-key sketches (min-merge is associative), and the share of its
    members present in BOTH sketches estimates Jaccard (Beyer et al.
    2007) — so |types| sketches of k longs replace the user-level
    pair join the exact ``events_type_overlap`` performs. All
    integer: jaccard_micro = n_inter·10⁶ div m, est_inter =
    n_inter·est_union div m — the oracle hash-matches.

    100 TB shape: one (type, user)-distinct shuffle + a rank window
    into a |types|-row sketch table; the pair epilogue is a broadcast
    self-join of that tiny table (BNLJ BuildRight on a strict
    inequality — metadata-scale, the embedding_label_drift shape).
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("key"),
        T.hash32(F.col("user_id").cast("string")).alias("h"),
    )
    sk = _kmv_sketch(base, _AO_K)
    a = sk.select(F.col("key").alias("type_a"), F.col("sk").alias("sa"))
    b = sk.select(F.col("key").alias("type_b"), F.col("sk").alias("sb"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    return (
        pairs.withColumn(
            "comb",
            F.expr(f"slice(array_sort(array_distinct(concat(sa, sb))), 1, {_AO_K})"),
        )
        .select(
            "type_a",
            "type_b",
            F.expr("cast(size(comb) as bigint)").alias("m"),
            F.expr(
                "cast(size(filter(comb, x -> array_contains(sa, x)"
                " AND array_contains(sb, x))) as bigint)"
            ).alias("n_inter"),
            F.expr(_kmv_est("comb", _AO_K)).alias("est_union"),
        )
        .select(
            "type_a",
            "type_b",
            "m",
            "n_inter",
            "est_union",
            F.expr("(n_inter * 1000000) div m").alias("jaccard_micro"),
            F.expr("(n_inter * est_union) div m").alias("est_inter"),
        )
    )


EVENTS_AUDIENCE_OVERLAP_KMV_SQL = f"""
WITH base AS (
    SELECT DISTINCT event_type AS key,
           {_HASH32_SQL.format(x='CAST(user_id AS VARCHAR)')} AS h
    FROM events
),
rk AS (SELECT key, h,
              row_number() OVER (PARTITION BY key ORDER BY h) AS rn
       FROM base),
sk AS (SELECT key, list(h ORDER BY h) AS sk FROM rk
       WHERE rn <= {_AO_K} GROUP BY key),
pr AS (SELECT a.key AS type_a, b.key AS type_b, a.sk AS sa, b.sk AS sb,
              (list_sort(list_distinct(list_concat(a.sk, b.sk))))[1:{_AO_K}] AS comb
       FROM sk a JOIN sk b ON a.key < b.key),
st AS (SELECT type_a, type_b,
              CAST(len(comb) AS BIGINT) AS m,
              CAST(len(list_filter(comb, x -> list_contains(sa, x)
                                   AND list_contains(sb, x))) AS BIGINT) AS n_inter,
              CASE WHEN len(comb) < {_AO_K} THEN CAST(len(comb) AS BIGINT)
                   ELSE (CAST({_AO_K - 1} AS BIGINT) * {_SPACE}) // comb[-1]
              END AS est_union
       FROM pr)
SELECT type_a, type_b, m, n_inter, est_union,
       (n_inter * 1000000) // m AS jaccard_micro,
       (n_inter * est_union) // m AS est_inter
FROM st
"""


# ---------------------------------------------------------------------------
# source_containment_kmv

_SC_K = 64
_SC_N = 3


def source_containment_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source shingle Jaccard AND both directed containments
    from per-source KMV sketches — "is crawl B inside crawl A" at
    sketch cost: containment(A⊆B) ≈ |K(A∪B)∩A∩B| / |K(A∪B)∩A|
    (Beyer et al. 2007), all integer micro-quotients, -1-sentinel-guarded
    when the union sketch misses one side entirely (no NULLs in
    outputs — the driver-compare tuple-sort contract) (a tiny source
    under a huge one). The exact-join face of this matrix is
    ``source_neardup_matrix``/``cross_source_leakage``; this is the
    table you can afford on every crawl pair at 100 TB.

    Shape: one (source, shingle)-distinct shuffle (shingle hashed
    scan-side, md5 spread across cores) + a rank window into a
    |sources|-row sketch table; broadcast self-join epilogue.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    base = d.select(
        F.col("source").alias("key"),
        F.explode_outer(T.shingles(F.col("text"), _SC_N)).alias("s"),
    ).filter(F.col("s").isNotNull()).select(
        "key", T.hash32(F.col("s")).alias("h")
    )
    sk = _kmv_sketch(base, _SC_K)
    a = sk.select(F.col("key").alias("source_a"), F.col("sk").alias("sa"))
    b = sk.select(F.col("key").alias("source_b"), F.col("sk").alias("sb"))
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    return (
        pairs.withColumn(
            "comb",
            F.expr(f"slice(array_sort(array_distinct(concat(sa, sb))), 1, {_SC_K})"),
        )
        .select(
            "source_a",
            "source_b",
            F.expr("cast(size(comb) as bigint)").alias("m"),
            F.expr(
                "cast(size(filter(comb, x -> array_contains(sa, x)"
                " AND array_contains(sb, x))) as bigint)"
            ).alias("n_inter"),
            F.expr(
                "cast(size(filter(comb, x -> array_contains(sa, x))) as bigint)"
            ).alias("in_a"),
            F.expr(
                "cast(size(filter(comb, x -> array_contains(sb, x))) as bigint)"
            ).alias("in_b"),
        )
        .select(
            "source_a",
            "source_b",
            "m",
            "n_inter",
            F.expr("(n_inter * 1000000) div m").alias("jaccard_micro"),
            F.expr(
                "case when in_a > 0 then (n_inter * 1000000) div in_a else -1 end"
            ).alias("a_in_b_micro"),
            F.expr(
                "case when in_b > 0 then (n_inter * 1000000) div in_b else -1 end"
            ).alias("b_in_a_micro"),
        )
    )


SOURCE_CONTAINMENT_KMV_SQL = f"""
WITH base AS (
    SELECT DISTINCT key, h FROM ({_shingle_hash_sql(_SC_N).format(
        key='source', key_src='source', key_src_inner='source')})
),
rk AS (SELECT key, h,
              row_number() OVER (PARTITION BY key ORDER BY h) AS rn
       FROM base),
sk AS (SELECT key, list(h ORDER BY h) AS sk FROM rk
       WHERE rn <= {_SC_K} GROUP BY key),
pr AS (SELECT a.key AS source_a, b.key AS source_b, a.sk AS sa, b.sk AS sb,
              (list_sort(list_distinct(list_concat(a.sk, b.sk))))[1:{_SC_K}] AS comb
       FROM sk a JOIN sk b ON a.key < b.key),
st AS (SELECT source_a, source_b,
              CAST(len(comb) AS BIGINT) AS m,
              CAST(len(list_filter(comb, x -> list_contains(sa, x)
                                   AND list_contains(sb, x))) AS BIGINT) AS n_inter,
              CAST(len(list_filter(comb, x -> list_contains(sa, x))) AS BIGINT) AS in_a,
              CAST(len(list_filter(comb, x -> list_contains(sb, x))) AS BIGINT) AS in_b
       FROM pr)
SELECT source_a, source_b, m, n_inter,
       (n_inter * 1000000) // m AS jaccard_micro,
       CASE WHEN in_a > 0 THEN (n_inter * 1000000) // in_a ELSE -1 END AS a_in_b_micro,
       CASE WHEN in_b > 0 THEN (n_inter * 1000000) // in_b ELSE -1 END AS b_in_a_micro
FROM st
"""


# ---------------------------------------------------------------------------
# split_leakage_kmv

_SL_K = 256
_SL_N = 3
_SPLIT_TRAIN = 900  # per-mille: the docs_train_val_split rule, verbatim
_SPLIT_VAL = 950


def split_leakage_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→{val,test} shingle-overlap estimate from per-split KMV
    sketches — the decontamination AUDIT at sketch cost: the exact
    twin (``cross_source_leakage``) joins the full shingle tables;
    this reads three sketches of k longs and reports, per eval split,
    the estimated distinct-shingle counts, the union-sketch overlap,
    and eval_in_train_micro — the share of the eval split's shingles
    already present in train (the leakage rate a release gate
    thresholds). Split rule = docs_train_val_split verbatim
    (hash32('split|'||doc_id) per-mille), so the audit measures the
    ACTUAL registered split.

    100 TB shape: one (split, shingle)-distinct shuffle into a 3-row
    sketch table; the epilogue is a 1×2 broadcast cross of that
    table (metadata-scale BNLJ, the grand-total-broadcast idiom).
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    mille = T.hash32(F.concat(F.lit("split|"), F.col("doc_id"))) % 1000
    split = (
        F.when(mille < _SPLIT_TRAIN, F.lit("train"))
        .when(mille < _SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    base = d.select(
        split.alias("key"),
        F.explode_outer(T.shingles(F.col("text"), _SL_N)).alias("s"),
    ).filter(F.col("s").isNotNull()).select(
        "key", T.hash32(F.col("s")).alias("h")
    )
    sk = _kmv_sketch(base, _SL_K)
    tr = sk.filter(F.col("key") == "train").select(F.col("sk").alias("sa"))
    ev = sk.filter(F.col("key") != "train").select(
        F.col("key").alias("eval_split"), F.col("sk").alias("sb")
    )
    pairs = tr.crossJoin(F.broadcast(ev))  # 1×2: metadata-scale
    return (
        pairs.withColumn(
            "comb",
            F.expr(f"slice(array_sort(array_distinct(concat(sa, sb))), 1, {_SL_K})"),
        )
        .select(
            "eval_split",
            F.expr(_kmv_est("sa", _SL_K)).alias("est_train_shingles"),
            F.expr(_kmv_est("sb", _SL_K)).alias("est_eval_shingles"),
            F.expr("cast(size(comb) as bigint)").alias("m"),
            F.expr(
                "cast(size(filter(comb, x -> array_contains(sa, x)"
                " AND array_contains(sb, x))) as bigint)"
            ).alias("n_inter"),
            F.expr(
                "cast(size(filter(comb, x -> array_contains(sb, x))) as bigint)"
            ).alias("in_eval"),
        )
        .select(
            "eval_split",
            "est_train_shingles",
            "est_eval_shingles",
            "m",
            "n_inter",
            F.expr("(n_inter * 1000000) div m").alias("jaccard_micro"),
            F.expr(
                "case when in_eval > 0 then (n_inter * 1000000) div in_eval else -1 end"
            ).alias("eval_in_train_micro"),
        )
    )


SPLIT_LEAKAGE_KMV_SQL = f"""
WITH sp AS (
    SELECT doc_id, text,
           {_HASH32_SQL.format(x="'split|' || doc_id")} % 1000 AS mille
    FROM documents
),
docs2 AS (
    SELECT CASE WHEN mille < {_SPLIT_TRAIN} THEN 'train'
                WHEN mille < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split,
           {_WS_SQL} AS ws
    FROM sp
),
base AS (
    SELECT DISTINCT split AS key, {_HASH32_SQL.format(x='s')} AS h
    FROM (
        SELECT split,
               unnest(list_distinct(
                   CASE WHEN len(ws) >= {_SL_N}
                        THEN list_transform(range(1, len(ws) - {_SL_N} + 2),
                                            i -> array_to_string(ws[i:i+{_SL_N - 1}], ' '))
                        ELSE [] END)) AS s
        FROM docs2
    )
),
rk AS (SELECT key, h,
              row_number() OVER (PARTITION BY key ORDER BY h) AS rn
       FROM base),
sk AS (SELECT key, list(h ORDER BY h) AS sk FROM rk
       WHERE rn <= {_SL_K} GROUP BY key),
pr AS (SELECT b.key AS eval_split, a.sk AS sa, b.sk AS sb,
              (list_sort(list_distinct(list_concat(a.sk, b.sk))))[1:{_SL_K}] AS comb
       FROM (SELECT sk FROM sk WHERE key = 'train') a
       CROSS JOIN (SELECT key, sk FROM sk WHERE key <> 'train') b),
st AS (SELECT eval_split,
              CASE WHEN len(sa) < {_SL_K} THEN CAST(len(sa) AS BIGINT)
                   ELSE (CAST({_SL_K - 1} AS BIGINT) * {_SPACE}) // sa[-1]
              END AS est_train_shingles,
              CASE WHEN len(sb) < {_SL_K} THEN CAST(len(sb) AS BIGINT)
                   ELSE (CAST({_SL_K - 1} AS BIGINT) * {_SPACE}) // sb[-1]
              END AS est_eval_shingles,
              CAST(len(comb) AS BIGINT) AS m,
              CAST(len(list_filter(comb, x -> list_contains(sa, x)
                                   AND list_contains(sb, x))) AS BIGINT) AS n_inter,
              CAST(len(list_filter(comb, x -> list_contains(sb, x))) AS BIGINT) AS in_eval
       FROM pr)
SELECT eval_split, est_train_shingles, est_eval_shingles, m, n_inter,
       (n_inter * 1000000) // m AS jaccard_micro,
       CASE WHEN in_eval > 0 THEN (n_inter * 1000000) // in_eval ELSE -1 END
           AS eval_in_train_micro
FROM st
"""


QUERIES = {
    "events_audience_overlap_kmv": events_audience_overlap_kmv,
    "source_containment_kmv": source_containment_kmv,
    "split_leakage_kmv": split_leakage_kmv,
}

ORACLES = {
    "events_audience_overlap_kmv": EVENTS_AUDIENCE_OVERLAP_KMV_SQL,
    "source_containment_kmv": SOURCE_CONTAINMENT_KMV_SQL,
    "split_leakage_kmv": SPLIT_LEAKAGE_KMV_SQL,
}


# ---------------------------------------------------------------------------
# docs_priority_sample — the weighted panel (PrioritySampleOp face)

_PS_K = 8


def docs_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample per source — priority sampling
    (Duffield, Lund & Thorup 2007) with priority = n_chars·2³² div
    (hash32(doc_id)+1): long documents are included with probability
    ≈ w/τ, so the panel tracks BYTES, not document count — the audit
    view when a handful of huge documents carry most of a source's
    mass. Reproducible across engines, runs and partitionings; the
    plan IS PrioritySampleOp's batch twin (streaming/ops.py) with the
    maintained arrays exploded to audit rows.
    """
    d = load_table(spark, sf_dir, "documents")
    out = PrioritySampleOp("wpanel", k=_PS_K)(d)
    z = out.select(
        "source",
        "n_seen",
        F.posexplode(
            F.arrays_zip("sample_ids", "sample_weights", "sample_priorities")
        ).alias("rank", "z"),
    )
    return z.select(
        "source",
        "n_seen",
        F.col("rank").cast("int").alias("rank"),
        F.col("z.sample_ids").alias("doc_id"),
        F.col("z.sample_weights").alias("weight"),
        F.col("z.sample_priorities").alias("priority"),
    )


DOCS_PRIORITY_SAMPLE_SQL = f"""
WITH base AS (
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
           {_HASH32_SQL.format(x='CAST(doc_id AS VARCHAR)')} AS h
    FROM documents
),
pri AS (SELECT source, doc_id, w, h,
               (w * {_SPACE}) // (h + 1) AS pri
        FROM base),
counts AS (SELECT source, count(*) AS n_seen FROM base GROUP BY source),
rk AS (SELECT source, doc_id, w, pri,
              row_number() OVER (PARTITION BY source
                                 ORDER BY pri DESC, h, doc_id) AS rn
       FROM pri)
SELECT r.source, c.n_seen, CAST(r.rn - 1 AS INT) AS rank,
       r.doc_id, r.w AS weight, r.pri AS priority
FROM rk r JOIN counts c USING (source)
WHERE r.rn <= {_PS_K}
"""


# ---------------------------------------------------------------------------
# the two new log-histogram faces

_IA_QS = (50, 95)


def _loghist_sql(base_select: str, key_out: str, qs: tuple[int, ...]) -> str:
    """DuckDB mirror of LogHistQuantileOp's integer rank walk, shared
    with order_percentiles_loghist: base_select must yield
    (k, cents)."""
    return f"""
WITH base AS ({base_select}),
bk AS (SELECT k,
              CASE WHEN cents <= 0 THEN 0
                   ELSE length(printf('%b', cents)) END AS b
       FROM base),
hist AS (SELECT k, b, count(*) AS c FROM bk GROUP BY k, b),
tot AS (SELECT k, sum(c) AS n FROM hist GROUP BY k),
cum AS (SELECT k, b, sum(c) OVER (PARTITION BY k ORDER BY b) AS acc
        FROM hist),
qs AS (SELECT unnest([{", ".join(str(q) for q in qs)}]) AS q),
ranked AS (
    SELECT t.k, qs.q, t.n, min(cum.b) AS bsel
    FROM tot t
    CROSS JOIN qs
    JOIN cum ON cum.k = t.k
    WHERE cum.acc >= (qs.q * t.n + 99) // 100
    GROUP BY t.k, qs.q, t.n
)
SELECT k AS {key_out}, CAST(n AS BIGINT) AS n, CAST(q AS INT) AS q,
       CAST(CASE WHEN bsel <= 0 THEN 0
                 WHEN bsel = 1 THEN 1
                 ELSE (3 * (CAST(1 AS BIGINT) << bsel)) // 4
            END AS BIGINT) AS est_centisec
FROM ranked
"""


def events_interarrival_loghist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type ARRIVAL-GAP percentiles via the γ=2 log-histogram —
    the queueing-model cadence monitor (the per-user cadence is
    ``events_interarrival_stats``; this is the type-level arrival
    process). Gaps are consecutive differences of the per-type SORTED
    timestamp sequence, and a sorted multiset's consecutive-diff
    multiset is invariant to tie ordering — so the histogram, hence
    the whole answer, is deterministic with no tiebreak column.
    Epoch arithmetic is floor-per-side (the events_asof_forward
    convention), tz-free. One lag window per type, then the ≤64-row
    histogram fold — the LogHistQuantileOp batch twin.
    """
    ev = spread(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type").orderBy("ts")
    gaps = ev.select(
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("value"),
    )
    out = LogHistQuantileOp("lh_gap", qs=_IA_QS)(gaps)
    return out.select(
        "event_type", "n", "q", F.col("est_cents").alias("est_centisec")
    )


EVENTS_INTERARRIVAL_LOGHIST_SQL = _loghist_sql(
    """
    SELECT k, cents FROM (
        SELECT event_type AS k,
               (e - lag(e) OVER (PARTITION BY event_type ORDER BY ts)) * 100
                   AS cents
        FROM (SELECT event_type, ts, epoch_us(ts) // 1000000 AS e FROM events)
    ) WHERE cents IS NOT NULL
    """,
    "event_type",
    _IA_QS,
)


_WEEK_S = 604800


def user_lifetime_loghist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per first-seen-week cohort, user LIFETIME (last − first event,
    seconds) percentiles via the log-histogram — the cohort longevity
    sketch next to the exact ``events_retention_halflife``. Tz-free
    arithmetic calendar: cohort = epoch div 604800 (the
    events_dow_hour convention — no session-timezone dependence).
    Two shuffles (per-user fold, then the ≤64-bucket histogram);
    single-event users land in bucket 0 with lifetime 0 by design.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", F.unix_timestamp("ts").alias("e"))
        .groupBy("user_id")
        .agg(F.min("e").alias("mn"), F.max("e").alias("mx"))
    )
    df = per_user.select(
        F.expr(f"cast(mn div {_WEEK_S} as string)").alias("event_type"),
        (F.col("mx") - F.col("mn")).alias("value"),
    )
    out = LogHistQuantileOp("lh_life", qs=_IA_QS)(df)
    return out.select(
        F.col("event_type").alias("cohort_week"),
        "n",
        "q",
        F.col("est_cents").alias("est_centisec"),
    )


USER_LIFETIME_LOGHIST_SQL = _loghist_sql(
    f"""
    SELECT CAST(mn // {_WEEK_S} AS VARCHAR) AS k, (mx - mn) * 100 AS cents
    FROM (
        SELECT user_id, min(e) AS mn, max(e) AS mx
        FROM (SELECT user_id, epoch_us(ts) // 1000000 AS e FROM events)
        GROUP BY user_id
    )
    """,
    "cohort_week",
    _IA_QS,
)


QUERIES.update(
    {
        "docs_priority_sample": docs_priority_sample,
        "events_interarrival_loghist": events_interarrival_loghist,
        "user_lifetime_loghist": user_lifetime_loghist,
    }
)

ORACLES.update(
    {
        "docs_priority_sample": DOCS_PRIORITY_SAMPLE_SQL,
        "events_interarrival_loghist": EVENTS_INTERARRIVAL_LOGHIST_SQL,
        "user_lifetime_loghist": USER_LIFETIME_LOGHIST_SQL,
    }
)
