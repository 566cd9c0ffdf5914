"""The DATA-QUALITY VALIDATOR family — the ingest-gate audits a pipeline
owner runs on every drop before it is allowed near training, plus the
weighted-quantile face of the log-histogram sketch.

- ``fk_integrity_audit``        — referential-integrity census over
  every FK edge of the star schema: child rows whose key has no
  parent (dangling), as count + micro rate per edge. On the clean
  synthetic data every edge reports 0 — the audit's job is to STAY
  zero; detection on planted dirt is pinned in
  tests/test_staged_queries.py.
- ``field_completeness_census`` — per (table, column) missingness:
  NULL or blank-after-trim for strings, NULL for the rest — the
  profiling table every ingest diff starts from.
- ``events_ingest_dup_rate``    — at-least-once ingest detector: rows
  whose (user_id, ts, event_type, value, props) payload repeats under
  a different event_id, per type.
- ``docs_byte_budget_percentiles`` — WEIGHTED log-histogram
  percentiles (LogHistQuantileOp weight_col face): the doc size below
  which half the corpus BYTES live — the number a packing/sharding
  plan needs, which the unweighted median does not give.
- ``embedding_coverage_audit``  — cross-modality alignment: per
  source, documents with an embedding row, plus the orphan-vector
  segment (vectors whose document is gone) — the stale-feature-store
  detector.

All five carry full DuckDB value-hash oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_file_system_with_stream_processing_spark.sources.tables import load_table
from distributed_file_system_with_stream_processing_spark.streaming.ops import (
    LogHistQuantileOp,
)

# ---------------------------------------------------------------------------
# fk_integrity_audit

# (edge label, child table, child key, parent table, parent key)
_FK_EDGES = [
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation.n_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region.r_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _edge_audit(edge: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str) -> DataFrame:
    """One FK edge → one audit row. LEFT join against the DISTINCT
    parent keys (no row explosion possible), so a NULL child key —
    which can never reference anything — counts as dangling, matching
    the oracle's hit-IS-NULL test."""
    c = child.select(F.col(ckey).alias("k"))
    p = parent.select(F.col(pkey).alias("k")).distinct().withColumn("hit", F.lit(1))
    return (
        c.join(p, "k", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dangling"),
        )
        .select(F.lit(edge).alias("edge"), "n_child", "n_dangling")
    )


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity census over the 7 FK edges of the star
    schema — the ingest gate that catches a partial parent-table drop
    or a producer writing orphaned facts. Per edge: child rows whose
    key has no parent, count + micro rate.

    100 TB shape: per edge, ONE scan of the child keyed column (column
    pruned to the key) joined against the distinct parent keys —
    Catalyst broadcasts the small dims (nation/region/supplier) and
    sort-merge-joins the big ones; no window, no pair explosion. The
    7 one-row aggregates union into the report.
    """
    parts = [
        _edge_audit(
            edge,
            load_table(spark, sf_dir, ct),
            ck,
            load_table(spark, sf_dir, pt),
            pk,
        )
        for edge, ct, ck, pt, pk in _FK_EDGES
    ]
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.select(
        "edge",
        "n_child",
        "n_dangling",
        F.expr("(n_dangling * 1000000) div n_child").alias("dangling_micro"),
    )


def _fk_edge_sql(edge: str, ct: str, ck: str, pt: str, pk: str) -> str:
    return f"""
SELECT '{edge}' AS edge,
       CAST(count(*) AS BIGINT) AS n_child,
       CAST(sum(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dangling
FROM (
    SELECT p.hit FROM {ct} c
    LEFT JOIN (SELECT DISTINCT {pk} AS k, 1 AS hit FROM {pt}) p
    ON c.{ck} = p.k
)"""


FK_INTEGRITY_AUDIT_SQL = (
    "WITH edges AS ("
    + "\nUNION ALL".join(_fk_edge_sql(*e) for e in _FK_EDGES)
    + """
)
SELECT edge, n_child, n_dangling,
       (n_dangling * 1000000) // n_child AS dangling_micro
FROM edges
"""
)


# ---------------------------------------------------------------------------
# field_completeness_census

# (table, [(column, is_string), ...]) — blank-after-trim counts as
# missing for strings; NULL for everything else
_FIELDS: list[tuple[str, list[tuple[str, bool]]]] = [
    (
        "documents",
        [
            ("doc_id", False),
            ("text", True),
            ("lang", True),
            ("source", True),
            ("n_chars", False),
        ],
    ),
    (
        "events",
        [
            ("event_id", False),
            ("ts", False),
            ("user_id", False),
            ("event_type", True),
            ("value", False),
            ("props", True),
        ],
    ),
]


def _missing_cond(col: str, is_str: bool) -> F.Column:
    c = F.col(col)
    if is_str:
        return c.isNull() | (F.trim(c) == "")
    return c.isNull()


def _table_census(df: DataFrame, table: str, cols: list[tuple[str, bool]]) -> DataFrame:
    """ONE aggregate pass over the table (every per-column missing
    counter rides the same scan), then a stack() unpivot of the 1-row
    result — corpus touched once regardless of column count."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
        F.sum(F.when(_missing_cond(c, s), 1).otherwise(0))
        .cast("long")
        .alias(f"m_{c}")
        for c, s in cols
    ]
    row = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', m_{c}" for c, _ in cols)
    return row.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args}) as (column_name, n_missing)",
    ).select(
        F.lit(table).alias("table_name"),
        "column_name",
        "n_rows",
        "n_missing",
    )


def field_completeness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(table, column) missingness census over the two ingest
    tables (documents, events): NULL — or blank-after-trim for string
    columns — as count + micro rate. The profiling table an ingest
    owner diffs between drops: a producer nulling a field shows up as
    a rate step.

    100 TB shape: one aggregate scan per table (all counters fused
    into a single agg — map-side partials, no shuffle beyond the
    1-row fold), then a metadata-scale unpivot.
    """
    parts = [
        _table_census(load_table(spark, sf_dir, t), t, cols)
        for t, cols in _FIELDS
    ]
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.select(
        "table_name",
        "column_name",
        "n_rows",
        "n_missing",
        F.expr("(n_missing * 1000000) div n_rows").alias("missing_micro"),
    )


def _census_col_sql(table: str, col: str, is_str: bool) -> str:
    cond = (
        f"{col} IS NULL OR trim({col}) = ''" if is_str else f"{col} IS NULL"
    )
    return f"""
SELECT '{table}' AS table_name, '{col}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
FROM {table}"""


FIELD_COMPLETENESS_CENSUS_SQL = (
    "WITH cells AS ("
    + "\nUNION ALL".join(
        _census_col_sql(t, c, s) for t, cols in _FIELDS for c, s in cols
    )
    + """
)
SELECT table_name, column_name, n_rows, n_missing,
       (n_missing * 1000000) // n_rows AS missing_micro
FROM cells
"""
)


# ---------------------------------------------------------------------------
# events_ingest_dup_rate

def events_ingest_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once ingest detector: rows whose payload
    (user_id, ts, event_type, value, props) repeats under a different
    event_id, per type — the replayed-batch signature. ONE distinct
    shuffle on the payload columns next to the plain per-type count;
    dup rate as the exact micro quotient. Zero on the clean synthetic
    corpus by construction (pinned); planted-dirt detection pinned in
    tests/test_staged_queries.py.
    """
    ev = load_table(spark, sf_dir, "events")
    rows = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    dis = (
        ev.select("event_type", "user_id", "ts", "value", "props")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
    )
    return rows.join(dis, "event_type").select(
        "event_type",
        "n_rows",
        (F.col("n_rows") - F.col("n_distinct")).alias("n_dup_rows"),
        F.expr("((n_rows - n_distinct) * 1000000) div n_rows").alias(
            "dup_micro"
        ),
    )


EVENTS_INGEST_DUP_RATE_SQL = """
WITH rows_ AS (
    SELECT event_type, count(*) AS n_rows FROM events GROUP BY event_type
),
dis AS (
    SELECT event_type, count(*) AS n_distinct
    FROM (SELECT DISTINCT event_type, user_id, ts, value, props FROM events)
    GROUP BY event_type
)
SELECT r.event_type,
       CAST(r.n_rows AS BIGINT) AS n_rows,
       CAST(r.n_rows - d.n_distinct AS BIGINT) AS n_dup_rows,
       ((r.n_rows - d.n_distinct) * 1000000) // r.n_rows AS dup_micro
FROM rows_ r JOIN dis d USING (event_type)
"""


# ---------------------------------------------------------------------------
# docs_byte_budget_percentiles — the weighted log-histogram face

_BB_QS = (50, 95)


def docs_byte_budget_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source, the doc size below which 50% / 95% of the corpus
    BYTES live — LogHistQuantileOp's weight_col face (weight =
    n_chars): the rank walk runs on character MASS, so q=50 is the
    byte-budget median a packing/sharding plan needs (a long-tailed
    source's unweighted median says nothing about where its bytes
    are). Same γ=2 integer sketch, same one-octave guarantee, oracle
    hash-matches via the weighted rank walk.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.col("source").alias("event_type"),
        F.col("n_chars").alias("value"),
        F.col("n_chars").alias("w_chars"),
    )
    out = LogHistQuantileOp("lh_bytes", qs=_BB_QS, weight_col="w_chars")(d)
    return out.select(
        F.col("event_type").alias("source"),
        F.col("n").alias("total_chars"),
        "q",
        F.col("est_cents").alias("est_centichars"),
    )


DOCS_BYTE_BUDGET_PERCENTILES_SQL = f"""
WITH base AS (
    SELECT source AS k,
           CAST(n_chars AS BIGINT) * 100 AS cents,
           CAST(n_chars AS BIGINT) AS w
    FROM documents
),
bk AS (SELECT k, w,
              CASE WHEN cents <= 0 THEN 0
                   ELSE length(printf('%b', cents)) END AS b
       FROM base),
hist AS (SELECT k, b, sum(w) AS c FROM bk GROUP BY k, b),
tot AS (SELECT k, sum(c) AS n FROM hist GROUP BY k),
cum AS (SELECT k, b, sum(c) OVER (PARTITION BY k ORDER BY b) AS acc
        FROM hist),
qs AS (SELECT unnest([{", ".join(str(q) for q in _BB_QS)}]) AS q),
ranked AS (
    SELECT t.k, qs.q, t.n, min(cum.b) AS bsel
    FROM tot t
    CROSS JOIN qs
    JOIN cum ON cum.k = t.k
    WHERE cum.acc >= (qs.q * t.n + 99) // 100
    GROUP BY t.k, qs.q, t.n
)
SELECT k AS source, CAST(n AS BIGINT) AS total_chars, CAST(q AS INT) AS q,
       CAST(CASE WHEN bsel <= 0 THEN 0
                 WHEN bsel = 1 THEN 1
                 ELSE (3 * (CAST(1 AS BIGINT) << bsel)) // 4
            END AS BIGINT) AS est_centichars
FROM ranked
"""


QUERIES = {
    "fk_integrity_audit": fk_integrity_audit,
    "field_completeness_census": field_completeness_census,
    "events_ingest_dup_rate": events_ingest_dup_rate,
    "docs_byte_budget_percentiles": docs_byte_budget_percentiles,
}

ORACLES = {
    "fk_integrity_audit": FK_INTEGRITY_AUDIT_SQL,
    "field_completeness_census": FIELD_COMPLETENESS_CENSUS_SQL,
    "events_ingest_dup_rate": EVENTS_INGEST_DUP_RATE_SQL,
    "docs_byte_budget_percentiles": DOCS_BYTE_BUDGET_PERCENTILES_SQL,
}


# ---------------------------------------------------------------------------
# embedding_coverage_audit — cross-modality alignment completeness

def embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store ALIGNMENT audit between the text corpus and its
    embedding table: per source, how many documents have an embedding
    row (doc_id = vec_id), plus the orphan-vector segment — vectors
    whose document is gone (a stale feature store after a dedup drop,
    or an embedding job that ran on a different snapshot). The
    validator the other FK audit can't express: it crosses
    modalities, and BOTH directions matter. Uniform segments: one row
    per source (documents side) + '(vec_orphans)' (embeddings side),
    each with n_rows / n_matched / missing_micro.

    100 TB shape: two id-equi-joins against the DISTINCT id
    projections (column-pruned scans; Catalyst picks broadcast vs
    SMJ by side size); per-source one-shuffle rollup; no window.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    vec_ids = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_source = (
        docs.join(vec_ids, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_matched"),
        )
        .select(F.col("source").alias("segment"), "n_rows", "n_matched")
    )
    doc_ids = docs.select("doc_id").distinct().withColumn("hit", F.lit(1))
    orphans = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("doc_id"))
        .join(doc_ids, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_matched"),
        )
        .select(F.lit("(vec_orphans)").alias("segment"), "n_rows", "n_matched")
    )
    return per_source.unionByName(orphans).select(
        "segment",
        "n_rows",
        "n_matched",
        F.expr("((n_rows - n_matched) * 1000000) div n_rows").alias(
            "missing_micro"
        ),
    )


EMBEDDING_COVERAGE_AUDIT_SQL = """
WITH per_source AS (
    SELECT d.source AS segment, count(*) AS n_rows,
           sum(CASE WHEN e.hit IS NOT NULL THEN 1 ELSE 0 END) AS n_matched
    FROM documents d
    LEFT JOIN (SELECT DISTINCT vec_id, 1 AS hit FROM embeddings) e
    ON d.doc_id = e.vec_id
    GROUP BY d.source
),
orphans AS (
    SELECT '(vec_orphans)' AS segment, count(*) AS n_rows,
           sum(CASE WHEN d.hit IS NOT NULL THEN 1 ELSE 0 END) AS n_matched
    FROM embeddings e
    LEFT JOIN (SELECT DISTINCT doc_id, 1 AS hit FROM documents) d
    ON e.vec_id = d.doc_id
),
all_ AS (SELECT * FROM per_source UNION ALL SELECT * FROM orphans)
SELECT segment, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_matched AS BIGINT) AS n_matched,
       CAST(((n_rows - n_matched) * 1000000) // n_rows AS BIGINT) AS missing_micro
FROM all_
"""


QUERIES["embedding_coverage_audit"] = embedding_coverage_audit
ORACLES["embedding_coverage_audit"] = EMBEDDING_COVERAGE_AUDIT_SQL
