"""PySpark-native analytics + stream-processing engine.

A from-scratch rebuild of the capabilities of
``adish007/Distributed_File_System_with_Stream_Processing`` (a Go
HyDFS + RainStorm stream processor) on idiomatic PySpark:

- ``dfs``        — parquet-backed TableStore (HyDFS create/get/append/merge)
- ``streaming``  — RainStorm-equivalent op pipeline on Structured Streaming
- ``plans``      — the declarative query surface (analytics, rainstorm ops,
                   dedup, similarity, text analysis)
- ``functions``  — reusable Column-level function library (text, vector)
- ``operators``  — composite distributed operators (dedup, ANN)
- ``sources``    — table loaders / schemas

Everything is DataFrame-first so Catalyst handles pushdown, pruning and
join planning; Python UDFs appear only where semantics genuinely require
them, always Arrow-batched.
"""

from distributed_file_system_with_stream_processing_spark.dfs import TableStore, list_members
from distributed_file_system_with_stream_processing_spark.session import get_spark
from distributed_file_system_with_stream_processing_spark.streaming.ops import (
    AggregateOp,
    StatefulCountOp,
    TransformOp,
    WindowedCountOp,
    dedup_by,
    python_transform,
)
from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
    RainStormJob,
    join_streams,
)

__all__ = [
    "AggregateOp",
    "RainStormJob",
    "StatefulCountOp",
    "TableStore",
    "TransformOp",
    "WindowedCountOp",
    "dedup_by",
    "get_spark",
    "join_streams",
    "list_members",
    "python_transform",
]
