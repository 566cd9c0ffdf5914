"""Forced-path oracle matrix: every query that takes an adaptive branch
while its plan is built must stay oracle-equal on the arm sf0.001 does
not take by default.

- gate off (``GATE_MAX_ROWS=0``): ``gate_broadcast`` falls back to a
  shuffle join and connected components runs its distributed loop
  instead of the driver union-find;
- reliable checkpoints (``spark.dfsp.reliableCheckpoint=true``):
  ``plan_ckpt`` writes fault-tolerant checkpoints instead of
  executor-local ones.

The query lists come from ``tests/test_plans.EAGER_BUILDS``, so a query
that gains or loses one of these mechanisms moves here with it.
"""

from __future__ import annotations

import contextlib

import pytest

from distributed_file_system_with_stream_processing_spark.operators import _util
from distributed_file_system_with_stream_processing_spark.plans import _backbones
from distributed_file_system_with_stream_processing_spark.plans.registry import (
    ORACLES,
    QUERIES,
)
from tests.conftest import SF_SMOKE
from tests.oracle_compare import _norm_rows, compare
from tests.test_plans import EAGER_BUILDS


@contextlib.contextmanager
def _gate_off(spark, tmp_path):
    prev = _util.GATE_MAX_ROWS
    _util.GATE_MAX_ROWS = 0
    try:
        yield
    finally:
        _util.GATE_MAX_ROWS = prev


@contextlib.contextmanager
def _reliable_ckpt(spark, tmp_path):
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    spark.conf.set("spark.dfsp.reliableCheckpoint", "true")
    try:
        yield
    finally:
        spark.conf.unset("spark.dfsp.reliableCheckpoint")
    assert any(p.is_file() for p in ckpt.rglob("*")), "no reliable checkpoint written"


CASES = [
    (name, _gate_off)
    for name in sorted(EAGER_BUILDS["gate count"] | EAGER_BUILDS["connected components"])
] + [(name, _reliable_ckpt) for name in sorted(EAGER_BUILDS["plan_ckpt"])]


def _rows(df):
    return _norm_rows(df.columns, [tuple(r) for r in df.collect()])


@pytest.mark.parametrize(
    "name,arm", CASES, ids=[f"{arm.__name__.lstrip('_')}-{name}" for name, arm in CASES]
)
def test_forced_arm_matches_oracle(spark, duck, tmp_path, name, arm):
    """The forced arm matches the query's DuckDB oracle or, for a query
    without one, its own default-arm output. The backbone cache is
    cleared around the forced run so no default-arm table stands in
    for it."""
    sql = ORACLES.get(name)
    default = None if sql is not None else _rows(QUERIES[name](spark, SF_SMOKE))
    _backbones.clear()
    try:
        with arm(spark, tmp_path):
            df = QUERIES[name](spark, SF_SMOKE)
            if sql is not None:
                ok, msg = compare(df, duck, sql, SF_SMOKE)
                assert ok, f"{name}: {msg}"
            else:
                assert _rows(df) == default, name
    finally:
        _backbones.clear()
