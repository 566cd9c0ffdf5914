"""Parquet table loaders for the driver-provided test schema.

The reference ingests raw line files from HyDFS (reference
rainstorm/rainstorm.go:146-167 reads a whole source file and splits on
newlines). Spark-first equivalent: columnar parquet scans with
pushdown/pruning; the line-file model survives as
``spark.read.text`` inside the streaming layer.
"""

from __future__ import annotations

import json
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from distributed_file_system_with_stream_processing_spark.sources.pyds import _data_files

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# the Spark schema every Spark-written parquet file carries in its footer
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


@lru_cache(maxsize=256)
def _footer_schema(
    path: str, size: int, mtime_ns: int, prefer_timestamp_ntz: bool
) -> StructType:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    arrow = pq.read_schema(path)
    meta = arrow.metadata or {}
    if _SPARK_ROW_METADATA in meta:
        return StructType.fromJson(json.loads(meta[_SPARK_ROW_METADATA]))
    fields = []
    for f in arrow:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            t = LongType()  # raw nanos, as Spark reads them under nanosAsLong
        else:
            try:
                t = from_arrow_type(f.type, prefer_timestamp_ntz=prefer_timestamp_ntz)
            except TypeError as e:
                raise TypeError(
                    f"{path}: column {f.name!r} of Arrow type {f.type} has no Spark type"
                ) from e
        fields.append(StructField(f.name, t, f.nullable))
    return StructType(fields)


def footer_schema(path: str, prefer_timestamp_ntz: bool = True) -> StructType:
    """The Spark schema of one parquet file, read on the driver from its
    footer, so a read built with it runs no schema-inference job.

    A Spark-written footer carries its Spark schema as row metadata,
    used as is. Any other footer is mapped from its Arrow schema, with
    a zone-less timestamp read as ``TIMESTAMP_NTZ`` when
    ``prefer_timestamp_ntz`` (Spark's
    ``spark.sql.parquet.inferTimestampNTZ.enabled``). A column with no
    Spark type raises ``TypeError`` naming the file and the column.
    Cached per (path, size, mtime, ``prefer_timestamp_ntz``), so a file
    rewritten in place is read again; callers get their own copy."""
    st = os.stat(path)
    cached = _footer_schema(path, st.st_size, st.st_mtime_ns, prefer_timestamp_ntz)
    return StructType(list(cached.fields))


def prefers_ntz(spark: SparkSession) -> bool:
    """The session's choice for zone-less parquet timestamps
    (``spark.sql.parquet.inferTimestampNTZ.enabled``), as
    ``footer_schema`` takes it."""
    conf = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    return (conf or "true").lower() == "true"


def _table_file(sf_dir: str, name: str) -> tuple[str, str]:
    """(path to read, one data file whose footer holds the schema): a
    table is one parquet file or a directory of part files."""
    path = f"{sf_dir}/{name}.parquet"
    if not os.path.isdir(path):
        return path, path
    parts = _data_files(path)
    if not parts:
        raise FileNotFoundError(f"table {name!r}: no parquet files under {path}")
    return path, parts[0]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table with ``spark.read.schema(s).parquet``, where ``s``
    comes from the table's parquet footer (``footer_schema``), so
    building the scan runs no Spark job. The read is still a plain
    parquet scan, so Catalyst keeps predicate pushdown and column
    pruning on every downstream plan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path, footer = _table_file(sf_dir, name)
    schema = footer_schema(footer, prefers_ntz(spark))
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some
        # testdata generations (which Spark's vectorized reader rejects
        # unless read as raw nanos) and TIMESTAMP(MICROS) in others.
        # The footer says which: a NANOS column maps to LongType, read
        # under nanosAsLong=true, and a microsecond timestamp is rebuilt
        # from it; a MICROS column reads as a timestamp (passed through,
        # normalized to session-tz TIMESTAMP). Runtime confs so it
        # works under any caller-provided SparkSession; session tz
        # pinned to UTC so rendered timestamps match the (naive-UTC)
        # stored values regardless of the host JVM's zone.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.schema(schema).parquet(path)
        if isinstance(schema["ts"].dataType, LongType):
            return df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long"))
            )
        # TIMESTAMP_NTZ -> TIMESTAMP is value-preserving under the UTC
        # session tz pinned above
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.schema(schema).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` plans."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
