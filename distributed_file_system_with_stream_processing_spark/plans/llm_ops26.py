"""The TIME-BUCKETED sketch family — KMV distinct sketches per calendar
cell plus the SKETCH ROLLUP: coarser windows answered by MERGING the
per-cell sketches instead of rescanning raw data (the pre-aggregated
theta-sketch pattern of OLAP stores). The min-merge lemma — the
k-sketch of a union equals the k smallest of the merged per-part
k-sketches — is hypothesis-pinned in tests/test_properties.py
(test_kmv_union_sketch_merge_lemma), and it is exactly what makes the
rollup plan's answer equal the oracle's direct-scan answer
bit-for-bit.

- ``events_weekly_distinct_kmv``  — distinct users per (epoch-week,
  event_type) cell as KMV estimates: the hypertable-style rollup
  table with k longs of state per cell, tz-free arithmetic calendar.
- ``events_distinct_rollup_kmv``  — distinct users per (4-week
  window, event_type) computed by MERGING the weekly sketch arrays
  (array math on the cell table; the raw corpus is touched exactly
  once, in the weekly CTE). The oracle computes the window sketch
  directly from raw rows — equality IS the min-merge lemma.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_file_system_with_stream_processing_spark.functions import text as T
from distributed_file_system_with_stream_processing_spark.sources.tables import load_table

_SPACE = 1 << 32
_WK_K = 32
_WEEK_S = 604800
_HASH32_SQL = "('0x' || substr(md5({x}), 1, 8))::BIGINT"


def _weekly_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (epoch-week, event_type) cell: row count and the sorted
    k-minimum sketch of distinct user hashes. ONE distinct-ish
    shuffle + a rank window; the cell table is |weeks|·|types| rows
    of k longs — the bounded-state rollup backbone."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.expr(f"cast(ts as long) div {_WEEK_S}").alias("week"),
        F.col("event_type"),
        T.hash32(F.col("user_id").cast("string")).alias("h"),
    )
    counts = base.groupBy("week", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    w = Window.partitionBy("week", "event_type").orderBy("h")
    sk = (
        base.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _WK_K)
        .groupBy("week", "event_type")
        .agg(F.sort_array(F.collect_list("h")).alias("sk"))
    )
    return counts.join(sk, ["week", "event_type"])


def _est(col: str) -> str:
    return (
        f"case when size({col}) < {_WK_K} then cast(size({col}) as bigint) "
        f"else (cast({_WK_K - 1} as bigint) * {_SPACE}) div element_at({col}, -1) end"
    )


def events_weekly_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per (epoch-week, event_type) via KMV sketches —
    the hypertable-style distinct rollup at k longs per cell (an
    exact count-distinct per cell re-shuffles raw user ids for every
    reporting window; the sketch table answers them all). Exact below
    k, integer estimator past it, tz-free week = epoch div 604800.
    """
    return _weekly_sketches(spark, sf_dir).select(
        "week",
        "event_type",
        "n_events",
        F.expr("cast(size(sk) as bigint)").alias("sketch_size"),
        F.expr(_est("sk")).alias("est_distinct"),
    )


EVENTS_WEEKLY_DISTINCT_KMV_SQL = f"""
WITH base AS (
    SELECT epoch_us(ts) // 1000000 // {_WEEK_S} AS week, event_type,
           {_HASH32_SQL.format(x='CAST(user_id AS VARCHAR)')} AS h
    FROM events
),
counts AS (SELECT week, event_type, count(*) AS n_events
           FROM base GROUP BY week, event_type),
d AS (SELECT DISTINCT week, event_type, h FROM base),
rk AS (SELECT week, event_type, h,
              row_number() OVER (PARTITION BY week, event_type ORDER BY h) AS rn
       FROM d),
mins AS (SELECT week, event_type, count(*) AS sketch_size, max(h) AS hk
         FROM rk WHERE rn <= {_WK_K} GROUP BY week, event_type)
SELECT c.week, c.event_type, CAST(c.n_events AS BIGINT) AS n_events,
       CAST(m.sketch_size AS BIGINT) AS sketch_size,
       CASE WHEN m.sketch_size < {_WK_K} THEN CAST(m.sketch_size AS BIGINT)
            ELSE (CAST({_WK_K - 1} AS BIGINT) * {_SPACE}) // m.hk
       END AS est_distinct
FROM counts c JOIN mins m USING (week, event_type)
"""


def events_distinct_rollup_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per (4-week window, event_type) answered by
    MERGING the weekly sketches — the pre-aggregated rollup pattern:
    the raw corpus is scanned ONCE (the weekly cell table); the
    coarser window is pure array math over |cells| rows
    (sorted-distinct-merge, keep k). The oracle computes the window
    sketch directly from raw rows; the answers are equal BECAUSE the
    k-sketch of a union is the k smallest of the merged per-part
    sketches (min-merge lemma, hypothesis-pinned in
    tests/test_properties.py::test_kmv_union_sketch_merge_lemma).
    At 100 TB this is the difference between re-shuffling user ids
    per reporting window and re-slicing a metadata-scale cell table.
    """
    weekly = _weekly_sketches(spark, sf_dir)
    return (
        weekly.groupBy(
            F.expr("week div 4").alias("window4"), F.col("event_type")
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.expr(
                f"slice(array_sort(array_distinct(flatten(collect_list(sk)))), 1, {_WK_K})"
            ).alias("sk"),
        )
        .select(
            "window4",
            "event_type",
            "n_events",
            "n_cells",
            F.expr("cast(size(sk) as bigint)").alias("sketch_size"),
            F.expr(_est("sk")).alias("est_distinct"),
        )
    )


EVENTS_DISTINCT_ROLLUP_KMV_SQL = f"""
WITH base AS (
    SELECT epoch_us(ts) // 1000000 // {_WEEK_S} AS week, event_type,
           {_HASH32_SQL.format(x='CAST(user_id AS VARCHAR)')} AS h
    FROM events
),
cells AS (SELECT week, event_type, count(*) AS n_events
          FROM base GROUP BY week, event_type),
win_counts AS (SELECT week // 4 AS window4, event_type,
                      sum(n_events) AS n_events, count(*) AS n_cells
               FROM cells GROUP BY 1, 2),
-- direct window sketch over raw rows: equals the plan's merged
-- weekly sketches by the min-merge lemma
d AS (SELECT DISTINCT week // 4 AS window4, event_type, h FROM base),
rk AS (SELECT window4, event_type, h,
              row_number() OVER (PARTITION BY window4, event_type ORDER BY h) AS rn
       FROM d),
mins AS (SELECT window4, event_type, count(*) AS sketch_size, max(h) AS hk
         FROM rk WHERE rn <= {_WK_K} GROUP BY window4, event_type)
SELECT c.window4, c.event_type, CAST(c.n_events AS BIGINT) AS n_events,
       CAST(c.n_cells AS BIGINT) AS n_cells,
       CAST(m.sketch_size AS BIGINT) AS sketch_size,
       CASE WHEN m.sketch_size < {_WK_K} THEN CAST(m.sketch_size AS BIGINT)
            ELSE (CAST({_WK_K - 1} AS BIGINT) * {_SPACE}) // m.hk
       END AS est_distinct
FROM win_counts c JOIN mins m USING (window4, event_type)
"""


QUERIES = {
    "events_weekly_distinct_kmv": events_weekly_distinct_kmv,
    "events_distinct_rollup_kmv": events_distinct_rollup_kmv,
}

ORACLES = {
    "events_weekly_distinct_kmv": EVENTS_WEEKLY_DISTINCT_KMV_SQL,
    "events_distinct_rollup_kmv": EVENTS_DISTINCT_ROLLUP_KMV_SQL,
}
