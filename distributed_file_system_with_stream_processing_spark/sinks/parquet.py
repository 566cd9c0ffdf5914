"""Layout-aware parquet sinks — partition pruning and co-located joins.

The reference's placement story is its consistent-hash ring: a file's
location is a pure function of ``hash(filename)``
(reference synchronizer/synchronizer.go:55-72), so readers know where
data lives without asking. The Spark-native analogue is data LAYOUT:

- ``write_partitioned`` — hive-style directory partitioning; a filter
  on the partition column prunes entire directories at planning time
  (``PartitionFilters`` in the scan), the 100 TB equivalent of "only
  talk to the 3 replicas that own the file".
- ``write_bucketed``   — hash-bucketed table layout; two tables
  bucketed the same way join WITHOUT a shuffle (no ``Exchange`` in the
  plan). For a fact table joined on the same key every day, this
  amortizes the shuffle once at write time — the single biggest cost
  lever for repeated 100 TB joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-style partitioned parquet. Choose LOW-cardinality columns
    (date, category); high-cardinality partitioning creates a
    small-files explosion at scale."""
    df.write.partitionBy(*partition_cols).mode("overwrite").parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 32,
) -> None:
    """Bucketed external table: rows hash-distributed into
    ``n_buckets`` files by ``bucket_col``, bucket metadata in the
    catalog. Joins/aggregations on ``bucket_col`` between tables with
    identical bucketing need no Exchange. Size ``n_buckets`` so one
    bucket ≈ one task's worth of data at the target scale — it is
    also the write's parallelism cap: the repartition below leaves
    exactly ``n_buckets`` write tasks (and reduce tasks for that
    shuffle), so a large table written with few buckets serializes on
    them. Keep ``n_buckets`` at or above the session's parallelism
    unless the table is small.

    r10: repartition to the bucket layout BEFORE the write. A bucketed
    writer splits every input task's rows by bucket id, so N upstream
    partitions emit up to N×n_buckets files — 256 near-empty parquet
    files (each with its own open/footer/commit) for an 8-bucket table
    written from 32 partitions. ``repartition(n_buckets, bucket_col)``
    uses the same Murmur3 hash as the bucket spec, so each task holds
    exactly one bucket and the table lands as n_buckets files — the
    one-file-per-bucket layout the reader wants (guide-style output
    sizing; at scale n_buckets is chosen so this is also the right
    file size)."""
    (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def write_range_clustered(df: DataFrame, path: str, col: str, n_files: int) -> None:
    """Range-cluster ``df`` on ``col`` into ``n_files`` sorted files —
    the data-skipping layout for range-filtered scans.

    ``repartitionByRange`` gives each output file a disjoint value
    range of ``col`` and ``sortWithinPartitions`` orders rows inside,
    so every parquet row group carries tight min/max stats. A reader
    filtering ``col BETWEEN a AND b`` then skips all but the few
    files/row-groups whose stats overlap — at 100 TB this is the
    difference between scanning everything and scanning one day's
    slice (same lever as time-series chunk exclusion in OLAP stores;
    the third layout tool beside partitioning and bucketing above).
    """
    (
        df.repartitionByRange(n_files, col)
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 16,
) -> None:
    """Z-order (Morton-curve) cluster ``df`` on TWO columns — the 2D
    data-skipping layout (the fourth layout tool beside hive
    partitioning, hash bucketing, and 1D range clustering above).

    Each dimension is min/max-scaled to ``bits`` bits (bounds read in a
    4-scalar metadata job — write-side only, never in a query path),
    the bit strings are interleaved into the Morton key, and files are
    range-split on that key. Nearby (a, b) points land in the same
    file, so a reader filtering a box on BOTH columns skips most files
    via their parquet min/max on the ORIGINAL columns — a 1D layout
    can only skip on its single sort key. This is what engines like
    Delta/Databricks OPTIMIZE ZORDER do; expressed here as plain
    column arithmetic (aggregate over bit positions, no UDF).
    """
    lo_a, hi_a, lo_b, hi_b = [
        float(x)
        for x in df.agg(
            F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
        ).first()
    ]
    span_a = (hi_a - lo_a) or 1.0
    span_b = (hi_b - lo_b) or 1.0
    max_q = (1 << bits) - 1

    def quantize(col: str, lo: float, span: float):
        scaled = (F.col(col).cast("double") - F.lit(lo)) / F.lit(span) * max_q
        return F.least(F.lit(max_q), F.greatest(F.lit(0), F.round(scaled).cast("long")))

    qa, qb = quantize(col_a, lo_a, span_a), quantize(col_b, lo_b, span_b)
    # Morton interleave: bit j of a -> position 2j+1, bit j of b -> 2j.
    # pow(2, n) instead of shiftleft: the shiftleft Python API needs a
    # literal int, which a lambda-bound position is not (exact in
    # doubles up to 2^53, far above 2*bits+1).
    pow2 = lambda n: F.pow(F.lit(2.0), n).cast("long")  # noqa: E731
    bit = lambda q, j: (q / pow2(j)).cast("long") % 2  # noqa: E731
    zkey = F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + bit(qa, j) * pow2(2 * j + 1)
        + bit(qb, j) * pow2(2 * j),
    )
    (
        df.withColumn("_z", zkey)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
