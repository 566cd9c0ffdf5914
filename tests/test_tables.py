"""Table schemas from parquet footers.

``load_table`` reads each table with the schema mapped from its parquet
footer instead of letting Spark infer it, so building a plan runs no
schema-inference job. These tests pin the mapping to what inference
gives: every table at every testdata scale, both physical types
``events.ts`` has shipped as, and the footer cache's invalidation.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    TimestampNTZType,
    TimestampType,
)

from distributed_file_system_with_stream_processing_spark.sources.tables import (
    TABLES,
    footer_schema,
    load_table,
)

from .conftest import SF_SMOKE

SF_DIRS = [
    os.path.join(os.path.dirname(SF_SMOKE), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")
]


def _inferred(spark, sf_dir: str, name: str):
    """The table as Spark reads it with schema inference: the load path
    that footer schemas replace, events' ts handling included."""
    if name != "events":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long"))
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.mark.parametrize("sf_dir", [d for d in SF_DIRS if os.path.isdir(d)])
def test_footer_schema_equals_inferred_schema(spark, sf_dir):
    for name in TABLES:
        assert load_table(spark, sf_dir, name).schema == _inferred(spark, sf_dir, name).schema, name


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_both_physical_types(spark, tmp_path, unit):
    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = events.schema.get_field_index("ts")
    events = events.set_column(i, "ts", events.column("ts").cast(pa.timestamp(unit)))
    pq.write_table(events, tmp_path / "events.parquet")
    sf_dir = str(tmp_path)
    got = load_table(spark, sf_dir, "events")
    want = _inferred(spark, sf_dir, "events")
    assert got.schema == want.schema
    assert isinstance(got.schema["ts"].dataType, TimestampType)
    assert sorted(got.collect()) == sorted(want.collect())


def _write(path, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def test_footer_schema_mapping_and_cache_key(tmp_path):
    """Spark-free: the Arrow mapping, and a file rewritten in place is
    read again rather than served from the cache."""
    path = str(tmp_path / "t.parquet")
    _write(
        path,
        {
            "ts_ns": pa.array([0], pa.timestamp("ns")),
            "ts_us": pa.array([0], pa.timestamp("us")),
            "vec": pa.array([[1.0, 2.0]], pa.list_(pa.float32())),
        },
    )
    schema = footer_schema(path)
    assert schema["ts_ns"].dataType == LongType()
    assert schema["ts_us"].dataType == TimestampNTZType()
    assert schema["vec"].dataType == ArrayType(FloatType(), True)
    assert footer_schema(path, prefer_timestamp_ntz=False)["ts_us"].dataType == TimestampType()
    # callers get a copy: mutating it leaves the cached schema alone
    schema.add("extra", LongType())
    assert footer_schema(path).names == ["ts_ns", "ts_us", "vec"]

    _write(path, {"k": pa.array(["a"]), "v": pa.array([1], pa.int32())})
    assert footer_schema(path).names == ["k", "v"]


def test_footer_schema_names_unmappable_column(tmp_path):
    path = str(tmp_path / "bad.parquet")
    half = pa.array(np.array([1.0], dtype=np.float16))
    _write(path, {"ok": pa.array([1]), "half": half})
    with pytest.raises(TypeError, match=r"bad\.parquet.*'half'"):
        footer_schema(path)
