"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness-portability (UTC session time zone so
timestamp outputs match the DuckDB oracle) and for 100 TB readiness
(AQE + skew-join handling, broadcast threshold sized for dimension
tables, Arrow transfers for the few pandas-UDF operators), and for a
steady heap (small Tungsten pages, so a finished task pins little).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-plan, skew-join splitting, partition
    # coalescing — the main lever that keeps static plans honest at scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp rendering vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas interchange (ANN / multimodal operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/supplier/customer/part) stay far
    # below this; fact-fact joins still shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet: keep pushdown + pruning on (defaults, pinned explicitly
    # because the whole design depends on them).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Spark's default INT96 timestamps carry NO parquet min/max
    # statistics, so a time-range scan over written data can never
    # skip a row group — at 100 TB that silently turns every
    # time-slice query into a full scan of its files. MICROS is the
    # modern annotated int64 encoding with full stats support.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Tungsten page size. Spark derives it from the heap (64 MB with the
    # 8 GB driver below), and every sort or hash-aggregate task that sees
    # one row takes a whole page. A Python runner (pandas UDFs,
    # applyInPandasWithState, the tablestore DataSource) keeps its task's
    # plan, and so the task's last page, reachable until its
    # worker-monitor thread next wakes, up to 2 s after the task ends:
    # with 64 MB pages one 4-partition stream trigger pinned 256 MB.
    # A large task just takes more 1 MB pages.
    "spark.buffer.pageSize": "1m",
}


def get_spark(
    app_name: str = "dfs-stream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master``/``shuffle_partitions`` default from the env vars the
    bench driver sets (``SPARK_GRAFT_CPUS``), falling back to local[*]
    with one shuffle partition per core this process may run on —
    sized so an sf0.1 shuffle partition is a few MB; on a real cluster
    this would be set from (executors × cores) and target ~128 MB per
    partition. A stream's state-store count is fixed from this value
    when its checkpoint is first written, so it also sets how many
    state stores each trigger commits.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = len(os.sched_getaffinity(0)) if cpus == "*" else int(cpus)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    return builder.getOrCreate()
