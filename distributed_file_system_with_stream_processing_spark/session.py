"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness-portability (UTC session time zone so
timestamp outputs match the DuckDB oracle) and for 100 TB readiness
(AQE + skew-join handling, broadcast threshold sized for dimension
tables, Arrow transfers for the few pandas-UDF operators), for a
steady heap (small Tungsten pages, so a finished task pins little), and
for a low fixed cost per query once the session is warm:

- a generated-class cache large enough for a working set of short
  queries, so a warm query reuses its compiled code instead of paying
  Janino again;
- 64 KB broadcast blocks, since every stage's task binary and every
  broadcast-join relation allocates one whole block up front, however
  small it is, and most of them are a few KB.

The cache and 1 MB blocks cut the JVM's allocation per warm
``short_queries`` query from 115.7 to 70.7 MB, and 64 KB blocks from
70.4 to 62.3 MB (medians of 10 runs each, 4-core VM). The cost is on a
cluster: a 64 MB broadcast (the join threshold) travels as 1,024 blocks.
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
    # Generated-class cache. Spark keeps 100 compiled whole-stage and
    # expression classes, keyed by their source; one warm pass of the
    # 26 short benchmark queries needs about 250, so with the default
    # every warm pass evicted and recompiled about 210 classes through
    # Janino (8 per query, counted by CodegenMetrics' compilation
    # timer). At 1000 a warm pass compiles one. The cache holds the
    # classes, so the retained heap grows by about 4.5 MB on that pass.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Broadcast block size. TorrentBroadcast.blockifyObject allocates a
    # whole block (4 MB by default) before it writes the first byte, for
    # every stage's task binary and every broadcast-join relation, most
    # of which are a few KB. Per short query, 4 MB -> 1 MB -> 64 KB took
    # the DAG scheduler thread from 18.5 to 5.9 to 1.9 MB and the
    # broadcast-exchange threads from 32.6 to 18.8 to 15.5 MB; 64 KB
    # took the whole query from 70.4 to 62.3 MB. 16 KB saved nothing
    # more. The cost: on a cluster a 64 MB broadcast (the join
    # threshold) travels as 1,024 blocks instead of 64. In local mode
    # no block is ever fetched.
    "spark.broadcast.blockSize": "64k",
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
