"""Fully-oracled twins for the two sketch families that were rows-only by necessity — distinct counts
(HLL internals aren't portable) and approximate percentiles (GK
internals aren't portable). Both sketch queries are DETERMINISTIC
sketches, so the ESTIMATE itself is a pure integer function of the
data and carries a full DuckDB value-hash oracle:

- ``events_distinct_kmv``     — k-minimum-values distinct sketch
  (Bar-Yossef et al. 2002) on the portable hash32 family; the oracled
  face of the rows-only ``events_approx_distinct`` (HLL).
- ``order_percentiles_loghist`` — power-of-two log-histogram
  percentiles (DDSketch at γ=2, Masson et al. 2019); the oracled face
  of the rows-only ``order_percentiles_approx`` (GK).
- ``docs_sample_bottomk``       — deterministic bottom-k uniform
  sample audit per source (reproducible where rand() samples aren't).
- ``source_jaccard_minhash``    — cross-source shingle Jaccard from
  per-source MinHash signatures: the overlap matrix WITHOUT the
  doc-pair join ``source_neardup_matrix`` prices.

Every plan IS the batch twin of an r9 streaming op (KmvDistinctOp /
LogHistQuantileOp / BottomKSampleOp / MinHashSketchOp in
streaming/ops.py), so op-vs-query parity holds by construction — the
attribution-family pattern from r8.

Sketch-accuracy checks against the exact answers live in
tests/test_staged_queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
from distributed_file_system_with_stream_processing_spark.streaming.ops import (
    BottomKSampleOp,
    KmvDistinctOp,
    LogHistQuantileOp,
    MinHashSketchOp,
)

_KMV_K = 64
_LH_QS = (50, 95)


def events_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a k-minimum-values sketch —
    the fixed-memory distinct counter whose ESTIMATE is reproducible:
    keep the k smallest distinct hash32(user_id); below k the count is
    exact, past k est = (k−1)·2³² div h_k — all integer, so the oracle
    hashes match bit-for-bit (unlike HLL, where only row counts can be
    checked). The plan IS KmvDistinctOp's batch twin (streaming/ops.py)
    — op-vs-query parity by construction.

    100 TB shape: one distinct-ish shuffle on (key, h) + a rank window
    — but the STREAMING op is the scale path (k longs of state per
    key); this batch face exists to oracle the estimator.
    """
    ev = load_table(spark, sf_dir, "events")
    out = KmvDistinctOp("kmv64", k=_KMV_K)(ev)
    return out.select(
        F.col("key").alias("event_type"),
        "n_seen",
        "sketch_size",
        "est_distinct",
    )


EVENTS_DISTINCT_KMV_SQL = f"""
WITH base AS (
    SELECT event_type AS key,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM events
),
counts AS (SELECT key, count(*) AS n_seen FROM base GROUP BY key),
d AS (SELECT DISTINCT key, h FROM base),
rk AS (SELECT key, h,
              row_number() OVER (PARTITION BY key ORDER BY h) AS rn
       FROM d),
mins AS (SELECT key, count(*) AS sketch_size, max(h) AS hk
         FROM rk WHERE rn <= {_KMV_K} GROUP BY key)
SELECT c.key AS event_type, c.n_seen, m.sketch_size,
       CASE WHEN m.sketch_size < {_KMV_K} THEN m.sketch_size
            ELSE (CAST({_KMV_K - 1} AS BIGINT) * 4294967296) // m.hk
       END AS est_distinct
FROM counts c JOIN mins m USING (key)
"""


def order_percentiles_loghist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value percentiles per priority via the power-of-two
    log-histogram (DDSketch at γ=2): bucket = bit_length(cents), the
    integer rank walk reports the bucket midpoint — a deterministic,
    mergeable percentile with guaranteed one-octave relative error
    whose values a SQL oracle can reproduce exactly (unlike GK). The
    plan IS LogHistQuantileOp's batch twin (streaming/ops.py): the
    histogram shrinks JVM-side (map-side combine into ≤64 buckets per
    key) before the Arrow read-out.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("event_type"),
        F.col("o_totalprice").alias("value"),
    )
    out = LogHistQuantileOp("lh_orders", qs=_LH_QS)(orders)
    return out.select(
        F.col("event_type").alias("o_orderpriority"), "n", "q", "est_cents"
    )


ORDER_PERCENTILES_LOGHIST_SQL = f"""
WITH base AS (
    SELECT o_orderpriority AS k,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
),
bk AS (SELECT k,
              CASE WHEN cents <= 0 THEN 0
                   ELSE length(printf('%b', cents)) END AS b
       FROM base),
hist AS (SELECT k, b, count(*) AS c FROM bk GROUP BY k, b),
tot AS (SELECT k, sum(c) AS n FROM hist GROUP BY k),
cum AS (SELECT k, b, sum(c) OVER (PARTITION BY k ORDER BY b) AS acc
        FROM hist),
qs AS (SELECT unnest([{", ".join(str(q) for q in _LH_QS)}]) AS q),
ranked AS (
    SELECT t.k, qs.q, t.n, min(cum.b) AS bsel
    FROM tot t
    CROSS JOIN qs
    JOIN cum ON cum.k = t.k
    WHERE cum.acc >= (qs.q * t.n + 99) // 100
    GROUP BY t.k, qs.q, t.n
)
SELECT k AS o_orderpriority, CAST(n AS BIGINT) AS n, CAST(q AS INT) AS q,
       CAST(CASE WHEN bsel <= 0 THEN 0
                 WHEN bsel = 1 THEN 1
                 ELSE (3 * (CAST(1 AS BIGINT) << bsel)) // 4
            END AS BIGINT) AS est_cents
FROM ranked
"""


QUERIES = {
    "events_distinct_kmv": events_distinct_kmv,
    "order_percentiles_loghist": order_percentiles_loghist,
}

ORACLES = {
    "events_distinct_kmv": EVENTS_DISTINCT_KMV_SQL,
    "order_percentiles_loghist": ORDER_PERCENTILES_LOGHIST_SQL,
}


# ---------------------------------------------------------------------------
# docs_sample_bottomk — the BottomKSampleOp face: deterministic sample audit

_BK_K = 8


def docs_sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sample per source — the k documents with
    the smallest portable hash32(doc_id): the audit panel a curation
    owner eyeballs per source, reproducible across engines, runs and
    partitionings (the property a random sample cannot give). The plan
    IS BottomKSampleOp's batch twin (streaming/ops.py) with the
    maintained array exploded to audit rows — op-vs-query parity by
    construction.
    """
    d = load_table(spark, sf_dir, "documents")
    out = BottomKSampleOp("panel", k=_BK_K)(d)
    return out.select(
        "source",
        "n_seen",
        F.posexplode("sample_ids").alias("rank", "doc_id"),
    )


DOCS_SAMPLE_BOTTOMK_SQL = f"""
WITH base AS (
    SELECT source, doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM documents
),
counts AS (SELECT source, count(*) AS n_seen FROM base GROUP BY source),
rk AS (SELECT source, doc_id,
              row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
       FROM base)
SELECT r.source, c.n_seen, CAST(r.rn - 1 AS INT) AS rank, r.doc_id
FROM rk r JOIN counts c USING (source)
WHERE r.rn <= {_BK_K}
"""


# ---------------------------------------------------------------------------
# source_jaccard_minhash — cross-source overlap from sketches, no pair join

_SJ_K = 16
_SJ_N = 3


def source_jaccard_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-set Jaccard ESTIMATED from per-source
    MinHash signatures — the overlap matrix WITHOUT a doc-pair join:
    elementwise min over per-doc signatures equals the signature of
    the source's shingle UNION (min is associative), so |sources|
    sketches of k longs replace the quadratic doc×doc comparison that
    ``source_neardup_matrix`` prices. est = matching positions / k,
    carried as the exact micro quotient. The per-source signature IS
    MinHashSketchOp's plan (streaming/ops.py, the same plan it runs on
    a stream) on the portable affine family — op-vs-query parity by
    construction.

    100 TB shape: one (source, shingle)-distinct shuffle into a
    |sources|-row sketch table; the pair epilogue is a broadcast
    self-join of that tiny table.
    """
    d = load_table(spark, sf_dir, "documents")
    sig = MinHashSketchOp("mh16", k=_SJ_K, n=_SJ_N)(d).select("source", "sig")
    a = sig.select(F.col("source").alias("source_a"), F.col("sig").alias("sa"))
    b = sig.select(F.col("source").alias("source_b"), F.col("sig").alias("sb"))
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    matches = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    return pairs.select(
        "source_a",
        "source_b",
        matches.alias("matches"),
        F.expr(f"(matches * 1000000) div {_SJ_K}").alias("match_share_micro"),
    )


def _sj_sig_cols() -> str:
    from distributed_file_system_with_stream_processing_spark.functions import text as T

    cols = []
    for k in range(_SJ_K):
        a, b = T.mh_params(k)
        cols.append(
            f"min(({a} * h + {b}) % {T.MINHASH_PRIME}) AS m{k}"
        )
    return ", ".join(cols)


def _sj_match_terms() -> str:
    return " + ".join(
        f"CASE WHEN a.m{k} = b.m{k} THEN 1 ELSE 0 END" for k in range(_SJ_K)
    )


_SJ_WS = r"list_filter(string_split_regex(text, '\s+'), w -> w <> '')"

SOURCE_JACCARD_MINHASH_SQL = f"""
WITH sh AS (
    SELECT source, list_distinct(
        CASE WHEN len(ws) >= {_SJ_N}
             THEN list_transform(range(1, len(ws) - {_SJ_N} + 2),
                                 i -> array_to_string(ws[i:i+{_SJ_N - 1}], ' '))
             ELSE [] END) AS sh
    FROM (SELECT source, {_SJ_WS} AS ws FROM documents)
),
ex AS (SELECT DISTINCT source, unnest(sh) AS s FROM sh),
hs AS (SELECT DISTINCT source,
              ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
       FROM ex),
sig AS (SELECT source, {{SIG_COLS}} FROM hs GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       CAST({{MATCH_TERMS}} AS BIGINT) AS matches,
       CAST(({{MATCH_TERMS}}) * 1000000 AS BIGINT) // {_SJ_K}
           AS match_share_micro
FROM sig a JOIN sig b ON a.source < b.source
""".replace("{SIG_COLS}", _sj_sig_cols()).replace(
    "{MATCH_TERMS}", _sj_match_terms()
)


QUERIES.update(
    {
        "docs_sample_bottomk": docs_sample_bottomk,
        "source_jaccard_minhash": source_jaccard_minhash,
    }
)

ORACLES.update(
    {
        "docs_sample_bottomk": DOCS_SAMPLE_BOTTOMK_SQL,
        "source_jaccard_minhash": SOURCE_JACCARD_MINHASH_SQL,
    }
)


# ---------------------------------------------------------------------------
# docs_distinct_shingles_kmv — vocabulary-scale distincts, sketch-bounded

_DSK_K = 64
_DSK_N = 3


def docs_distinct_shingles_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-gram shingles per source via the same KMV sketch —
    the n-gram-vocabulary size estimate that at 100 TB replaces an
    exact count-distinct over a key space that can exceed the corpus
    itself (every distinct shingle is a grouping key; the sketch is k
    longs per source). Exact below k, integer estimator past it — the
    oracle hash-matches like events_distinct_kmv. Reuses KmvDistinctOp
    verbatim on the exploded distinct (source, shingle) frame.
    """
    from distributed_file_system_with_stream_processing_spark.functions import text as T

    from distributed_file_system_with_stream_processing_spark.operators._util import (
        spread,
    )

    # spread BEFORE the shingle explode: one-file parquet = one scan
    # partition, which would pin the md5-per-shingle stage to one core
    d = spread(load_table(spark, sf_dir, "documents"))
    ex = d.select(
        "source", F.explode_outer(T.shingles(F.col("text"), _DSK_N)).alias("s")
    ).filter(F.col("s").isNotNull())
    out = KmvDistinctOp("kmv_sh", k=_DSK_K, id_col="s", key_col="source")(ex)
    return out.select(
        F.col("key").alias("source"), "n_seen", "sketch_size", "est_distinct"
    )


DOCS_DISTINCT_SHINGLES_KMV_SQL = f"""
WITH sh AS (
    SELECT source, list_distinct(
        CASE WHEN len(ws) >= {_DSK_N}
             THEN list_transform(range(1, len(ws) - {_DSK_N} + 2),
                                 i -> array_to_string(ws[i:i+{_DSK_N - 1}], ' '))
             ELSE [] END) AS sh
    FROM (SELECT source, {_SJ_WS} AS ws FROM documents)
),
base AS (SELECT source AS key,
                ('0x' || substr(md5(unnest(sh)), 1, 8))::BIGINT AS h
         FROM sh),
counts AS (SELECT key, count(*) AS n_seen FROM base GROUP BY key),
d AS (SELECT DISTINCT key, h FROM base),
rk AS (SELECT key, h,
              row_number() OVER (PARTITION BY key ORDER BY h) AS rn
       FROM d),
mins AS (SELECT key, count(*) AS sketch_size, max(h) AS hk
         FROM rk WHERE rn <= {_DSK_K} GROUP BY key)
SELECT c.key AS source, c.n_seen, m.sketch_size,
       CASE WHEN m.sketch_size < {_DSK_K} THEN m.sketch_size
            ELSE (CAST({_DSK_K - 1} AS BIGINT) * 4294967296) // m.hk
       END AS est_distinct
FROM counts c JOIN mins m USING (key)
"""


# ---------------------------------------------------------------------------
# events_props_schema_census — semi-structured key-set signatures

def events_props_schema_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema census over the semi-structured ``props`` JSON column:
    each row's sorted key-set signature is a schema fingerprint;
    counting rows per (event_type, signature) is the drift table an
    ingest owner diffs between crawls (a producer silently renaming a
    field shows up as a new signature). The plan IS SchemaDriftOp's
    batch twin (streaming/ops.py) keyed by event_type — invalid JSON
    gets its own '(invalid)' bucket in both engines.
    """
    from distributed_file_system_with_stream_processing_spark.streaming.ops import (
        SchemaDriftOp,
    )

    ev = load_table(spark, sf_dir, "events")
    out = SchemaDriftOp("census", source_col="event_type", json_col="props")(ev)
    return out.select(
        F.col("source").alias("event_type"), "signature", "n_docs"
    )


EVENTS_PROPS_SCHEMA_CENSUS_SQL = """
WITH sig AS (
    SELECT event_type,
           CASE WHEN json_valid(props)
                THEN array_to_string(list_sort(json_keys(props)), ',')
                ELSE '(invalid)' END AS signature
    FROM events
)
SELECT event_type, signature, count(*) AS n_docs
FROM sig GROUP BY event_type, signature
"""


QUERIES.update(
    {
        "docs_distinct_shingles_kmv": docs_distinct_shingles_kmv,
        "events_props_schema_census": events_props_schema_census,
    }
)

ORACLES.update(
    {
        "docs_distinct_shingles_kmv": DOCS_DISTINCT_SHINGLES_KMV_SQL,
        "events_props_schema_census": EVENTS_PROPS_SCHEMA_CENSUS_SQL,
    }
)
