"""Single registry of every (query, oracle) pair the engine exposes.

``__spark_entry__.py`` re-exports these; the driver runs each query at
sf0.01 against its DuckDB oracle (row-count + schema + value hash).
Every public module of this package is a plan module: its ``QUERIES``
and ``ORACLES`` dicts are merged here, found by discovery so that no
module can be left out by hand.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
for _info in pkgutil.iter_modules([str(Path(__file__).parent)]):
    if _info.name.startswith("_") or _info.name == "registry":
        continue
    _m = importlib.import_module(f"{__package__}.{_info.name}")
    for _name, _fn in _m.QUERIES.items():
        if _name in QUERIES:
            raise ValueError(f"duplicate query name {_name!r}")
        QUERIES[_name] = _fn
    ORACLES.update(_m.ORACLES)

# The driver verifies queries in enumeration order and caps a run at
# 50 rows, so _FRONT holds exactly the queries with no driver row yet
# plus those whose value changed since their last green row (≤ 50).
_FRONT = [
    "events_distinct_kmv",
    "order_percentiles_loghist",
    "docs_sample_bottomk",
    "source_jaccard_minhash",
    "docs_distinct_shingles_kmv",
    "events_props_schema_census",
    "events_audience_overlap_kmv",
    "source_containment_kmv",
    "split_leakage_kmv",
    "docs_priority_sample",
    "events_interarrival_loghist",
    "user_lifetime_loghist",
    "fk_integrity_audit",
    "field_completeness_census",
    "events_ingest_dup_rate",
    "docs_byte_budget_percentiles",
    "embedding_coverage_audit",
    "events_weekly_distinct_kmv",
    "events_distinct_rollup_kmv",
]

_missing = [n for n in _FRONT if n not in QUERIES]
if _missing:
    raise ValueError(f"registry front-order names unknown: {_missing}")
QUERIES = {n: QUERIES[n] for n in (*_FRONT, *(k for k in QUERIES if k not in _FRONT))}


def get_queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def get_oracles() -> dict[str, str]:
    return dict(ORACLES)
