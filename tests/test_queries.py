"""Every registered query must match its DuckDB oracle at sf0.001,
and every fronted query also at sf0.01.

This is a local pre-flight of the driver's t2 correctness gate.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_compare import compare

REPO = Path(__file__).resolve().parent.parent


def _pairs():
    from distributed_file_system_with_stream_processing_spark.plans.registry import (
        ORACLES,
        QUERIES,
    )

    return [(name, fn, ORACLES.get(name)) for name, fn in QUERIES.items()]


def _front_oracled():
    from distributed_file_system_with_stream_processing_spark.plans import registry as R

    return [(n, R.QUERIES[n], R.ORACLES[n]) for n in R._FRONT if n in R.ORACLES]


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_matches_oracle(spark, duck, name, fn, sql):
    df = fn(spark, SF_SMOKE)
    assert df.columns, f"{name}: empty schema"
    if sql is None:
        # rows-only check for non-SQL-expressible ops
        assert df.count() >= 0
        return
    ok, msg = compare(df, duck, sql, SF_SMOKE)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize(
    "name,fn,sql", _front_oracled(), ids=[p[0] for p in _front_oracled()]
)
def test_front_query_matches_oracle_sf0_01(spark, duck, name, fn, sql):
    """A query takes a driver row only after matching its oracle at
    sf0.001 (above) AND at the driver's own sf0.01."""
    df = fn(spark, SF_ORACLE)
    assert df.columns, f"{name}: empty schema"
    ok, msg = compare(df, duck, sql, SF_ORACLE)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_embedding_margin_stats_counts_null_and_empty_vectors(spark, duck, tmp_path):
    """A null or an empty embedding is still a vector of its label: the
    oracle counts it with count(*), so the plan must count it too, in
    n_vecs and in n_all. Planted in the first two rows of the sf0.001
    embeddings, whose labels keep other vectors, and in every vector of
    one more label, which the oracle keeps with null means."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_file_system_with_stream_processing_spark.plans.llm_ops6 import (
        EMBEDDING_MARGIN_SQL,
        embedding_margin_stats,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import TABLES

    for t in TABLES:
        if t != "embeddings":
            (tmp_path / f"{t}.parquet").symlink_to(f"{SF_SMOKE}/{t}.parquet")
    emb = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    vecs = emb.column("embedding").to_pylist()
    vecs[0], vecs[1] = None, []
    labels = emb.column("label").to_pylist()
    gone = next(lb for lb in labels if lb not in labels[:2])
    for i, lb in enumerate(labels):
        if lb == gone:
            vecs[i] = [] if i % 2 else None
    col = emb.schema.get_field_index("embedding")
    emb = emb.set_column(col, "embedding", pa.array(vecs, emb.schema.field(col).type))
    pq.write_table(emb, tmp_path / "embeddings.parquet")

    df = embedding_margin_stats(spark, str(tmp_path))
    ok, msg = compare(df, duck, EMBEDDING_MARGIN_SQL, str(tmp_path))
    assert ok, msg


def test_approx_distinct_accuracy(spark):
    """HLL estimate must stay within 5% of exact distinct counts."""
    from distributed_file_system_with_stream_processing_spark.plans.registry import QUERIES
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table

    approx = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["events_approx_distinct"](spark, SF_SMOKE).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(__import__("pyspark.sql.functions", fromlist=["F"]).countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex < 0.05, (k, approx[k], ex)


def test_approx_percentiles_accuracy(spark):
    """GK-sketch percentiles must stay within 3% relative error of the
    exact percentiles. The slack is value discreteness, not sketch
    noise: percentile_approx returns a real data point while exact
    percentile() interpolates between neighbors, and at sf0.001 a
    group has only ~600 rows so neighboring order values sit ~1%
    apart. The bound catches wiring mistakes (wrong column, wrong
    quantile), which show up as tens of percent."""
    from pyspark.sql import functions as F

    from distributed_file_system_with_stream_processing_spark.plans.registry import QUERIES
    from distributed_file_system_with_stream_processing_spark.sources.tables import load_table

    approx = {
        r["o_orderpriority"]: (r["p50"], r["p90"], r["p99"])
        for r in QUERIES["order_percentiles_approx"](spark, SF_SMOKE).collect()
    }
    exact = {
        r["o_orderpriority"]: (r["p50"], r["p90"], r["p99"])
        for r in load_table(spark, SF_SMOKE, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
        )
        .collect()
    }
    for k, ex in exact.items():
        for a, e in zip(approx[k], ex):
            assert abs(a - e) / e < 0.03, (k, approx[k], ex)


def test_registry_front_loads_unchecked_queries():
    """The driver verifies queries in enumeration order and has capped
    at 50/round historically: the _FRONT list must (a) lead the
    enumeration exactly, (b) contain every registered query that has
    no row in any driver CORRECTNESS_r*.json, and (c) not exceed the
    50-entry cap, or the entries past it silently lose their shot at a
    driver row."""
    from distributed_file_system_with_stream_processing_spark.plans import registry as R

    names = list(R.QUERIES)
    assert names[: len(R._FRONT)] == R._FRONT
    assert len(R._FRONT) <= 50, len(R._FRONT)
    checked = set()
    for path in REPO.glob("CORRECTNESS_r*.json"):
        checked |= set(json.loads(path.read_text()))
    must_front = set(R.QUERIES) - checked
    assert must_front <= set(R._FRONT), sorted(must_front - set(R._FRONT))
