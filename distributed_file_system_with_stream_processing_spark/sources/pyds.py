"""Spark 4 Python DataSource over the TableStore append-log: the
log's STREAMING source and sink, plus the on-disk rules every reader
and writer of the log shares (batch listing, window, stamp, publish).

``spark.readStream.format("tablestore").option("root", ...).option(
"table", ...)`` tails a TableStore table's append batches (reference
HyDFS file: base + deferred append batches, dfs.py) as CDC, and
``writeStream.format("tablestore")`` appends each micro-batch exactly
once. Batch reads and writes have one API, ``TableStore.get`` /
``TableStore.append`` (the reference's ``get`` and ``append``): one
multi-path JVM parquet scan with vectorization and filter pushdown,
and one JVM parquet write.

The reference has no pluggable source layer (its reads are RPCs into
localstorage.go); this mirrors HyDFS streaming semantics onto Spark's
official extension point.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from distributed_file_system_with_stream_processing_spark.locks import append_lock


def _data_files(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _batch_names(appends_dir: str) -> list[str]:
    """The published batch dirs of an append log, in stamp order — THE
    listing rule for every reader and writer of the log (dfs.TableStore
    included): hidden names are skipped, i.e. ``_``-prefixed staging
    dirs, markers and the ledger, and ``.``-prefixed OS litter such as
    ``.DS_Store``."""
    if not os.path.isdir(appends_dir):
        return []
    return sorted(s for s in os.listdir(appends_dir) if not s.startswith(("_", ".")))


def _nullable(t):
    """``t`` with every field, array element and map value nullable."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


class TableStoreDataSource(DataSource):
    """format name: ``tablestore``; options: ``root``, ``table``."""

    @classmethod
    def name(cls) -> str:
        return "tablestore"

    def _table_dir(self) -> str:
        root = self.options.get("root")
        table = self.options.get("table")
        if not root or not table:
            raise ValueError("tablestore source needs options root and table")
        return os.path.join(root, table)

    def schema(self):
        """The schema ``TableStore.get`` reads: the base footer's Spark
        schema (``footer_schema``) with every field nullable, as Spark's
        parquet read makes it (a batch may hold NULLs where the base
        had none), plus ``_append_seq``."""
        from pyspark.sql.types import StringType, StructField

        from distributed_file_system_with_stream_processing_spark.sources.tables import (
            footer_schema,
        )

        base = _data_files(os.path.join(self._table_dir(), "base"))
        if not base:
            raise ValueError(f"no base files under {self._table_dir()!r}")
        st = _nullable(footer_schema(base[0]))
        return st.add(StructField("_append_seq", StringType(), False))

    def streamReader(self, schema):
        return _TableStoreStreamReader(
            self._table_dir(), [f.name for f in schema.fields]
        )

    def streamWriter(self, schema, overwrite: bool):
        if overwrite:
            # outputMode('complete')/truncate semantics: the append log
            # has no overwrite — silently appending every trigger's full
            # result would duplicate rows at each trigger.
            raise ValueError(
                "tablestore is an append log: streaming outputMode must "
                "be append/update (complete implies truncate, which the "
                "log cannot express)"
            )
        return _TableStoreStreamWriter(self._table_dir(), schema)


class _StreamSplit(InputPartition):
    def __init__(self, path: str, seq: str, lo: str, hi: str):
        self.path = path
        self.seq = seq
        self.lo = lo  # exclusive lower bound on _append_seq
        self.hi = hi  # inclusive upper bound


_MAX_SEQ_MARKER = "_max_seq.txt"


def _batch_max_seq(appends_dir: str, seq: str) -> str:
    """Newest original append stamp inside a batch dir — the dir name
    for plain batches; compact_appends() batches keep their true
    maximum in a permanent marker (their dir is named by the EARLIEST
    folded stamp). The one rule for every reader and writer of the
    log (dfs.TableStore included)."""
    m = os.path.join(appends_dir, seq, _MAX_SEQ_MARKER)
    if os.path.isfile(m):
        with open(m) as fh:
            return fh.read().strip()
    return seq


def _window_batches(appends_dir: str, lo: str, hi: str) -> list[str]:
    """The published batches that can hold rows stamped in ``(lo, hi]``
    — THE window rule of ``TableStore.diff``, ``TableStore.get_as_of``
    and the stream reader. A batch's dir name is its earliest stamp and
    ``_batch_max_seq`` its newest, so it qualifies iff ``name <= hi``
    and its max stamp ``> lo``. A compacted batch can straddle the
    window, so callers still filter rows by ``_append_seq``."""
    if hi <= lo:
        return []
    return [
        b
        for b in _batch_names(appends_dir)
        if b <= hi and _batch_max_seq(appends_dir, b) > lo
    ]


class _TableStoreStreamReader(DataSourceStreamReader):
    """Streaming CDC over the TableStore append log — the
    ``readStream`` twin of ``TableStore.diff``: each micro-batch is
    exactly the rows appended with ``start < _append_seq <= end``.

    Offsets are ``{"seq": <stamp>}`` — the append-log high-water mark,
    monotone because stamps are lexicographic sequence strings.
    ``partitions(start, end)`` emits one split per NEW data file of the
    batches ``_window_batches`` picks, so the micro-batch fans out
    across executors (this is the partition-based
    ``DataSourceStreamReader`` API, not the driver-side simple reader —
    rows never funnel through the driver). Compacted batches (dir named
    by the EARLIEST folded stamp, per-row ``_append_seq`` column,
    ``_MAX_SEQ`` marker) have their rows re-filtered row-level in
    ``read`` — the same precision contract as ``TableStore.diff``, so a
    compaction between two triggers neither drops nor duplicates rows.
    The base is NOT part of the stream (a CDC consumer bootstraps from
    ``TableStore.get_as_of``, then tails appends from that point).
    """

    def __init__(self, table_dir: str, columns: list[str]):
        self.table_dir = table_dir
        self.columns = columns

    def initialOffset(self) -> dict:
        return {"seq": ""}

    def _appends_dir(self) -> str:
        return os.path.join(self.table_dir, "appends")

    def latestOffset(self) -> dict:
        d = self._appends_dir()
        return {"seq": max((_batch_max_seq(d, s) for s in _batch_names(d)), default="")}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["seq"], end["seq"]
        d = self._appends_dir()
        return [
            _StreamSplit(p, seq, lo, hi)
            for seq in _window_batches(d, lo, hi)
            for p in _data_files(os.path.join(d, seq))
        ]

    def read(self, partition: _StreamSplit):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.path)
        if "_append_seq" in tbl.column_names:
            # compacted batch: row-level stamps — re-filter to the
            # window so a fold between triggers stays exactly-once
            col = tbl.column("_append_seq")
            mask = pc.and_(
                pc.greater(col, pa.scalar(partition.lo)),
                pc.less_equal(col, pa.scalar(partition.hi)),
            )
            tbl = tbl.filter(mask)
        else:
            tbl = tbl.append_column(
                "_append_seq", pa.array([partition.seq] * len(tbl), pa.string())
            )
        tbl = tbl.select(self.columns)
        yield from tbl.to_batches()

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


def _bumped_stamp(appends_dir: str) -> str:
    """The publication-order stamp rule (called only by ``_publish``,
    under the append lock): wall time_ns bumped past the newest
    existing stamp — dir names and compacted batches' _max_seq
    markers — so publication order == stamp order."""
    import time

    seqs = _batch_names(appends_dir)
    cur = max(_batch_max_seq(appends_dir, s) for s in seqs) if seqs else "0"
    return f"{max(time.time_ns(), int(cur[:20]) + 1):020d}"


def _publish(appends_dir: str, staged_dir: str, suffix: str) -> str:
    """THE publication step of every append — ``TableStore.append``
    and the ``tablestore`` stream sink. The batch is
    already fully written under a hidden ``_``-prefixed dir (the Spark
    write never runs under the lock); under the per-table append lock
    this picks the stamp and renames the staged dir into ``appends/``
    as ``<stamp>-<suffix>``. A reader therefore sees a batch whole or
    not at all (the reference's buffered AppendInfo record,
    localstorage.go:79-99), and no CDC high-water mark can name a
    stamp whose batch, or any earlier one, is still unpublished.
    Returns the batch name."""
    with append_lock(appends_dir):
        seq = f"{_bumped_stamp(appends_dir)}-{suffix}"
        try:
            os.rename(staged_dir, os.path.join(appends_dir, seq))
        except OSError:
            shutil.rmtree(staged_dir, ignore_errors=True)
            raise
    return seq


# staging older than this is a crashed writer's orphan, never a live one's
_ORPHAN_AGE_S = 3600.0


def _gc_pending(appends_dir: str) -> None:
    """Sweep orphaned ``_pending-*`` staging dirs of crashed
    ``TableStore.append`` calls: a crash between the
    parquet write and the publish rename strands a full batch copy
    that no reader sees and no fold reclaims. Age-gated — concurrent
    appends are legal, and a live append's staging is younger than
    the window."""
    import time

    if not os.path.isdir(appends_dir):
        return
    cutoff = time.time() - _ORPHAN_AGE_S
    for s in os.listdir(appends_dir):
        if s.startswith("_pending-"):
            p = os.path.join(appends_dir, s)
            try:
                if os.path.getmtime(p) <= cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass


# the stream sink's batch-id ledger (see _TableStoreStreamWriter)
_STREAM_LEDGER = "_stream_published.txt"


def _stream_batch_id(seq: str) -> int | None:
    """The batchId a stream-sink batch dir carries (``<stamp>-sb<id>``;
    ids are zero-padded to at least 8 digits, never truncated), or
    None for any other batch."""
    import re

    m = re.search(r"-sb(\d{8,})$", seq)
    return int(m.group(1)) if m else None


def _ledger_thru(appends_dir: str) -> int:
    """The highest batchId the ledger records as published (-1: none)."""
    p = os.path.join(appends_dir, _STREAM_LEDGER)
    if not os.path.isfile(p):
        return -1
    with open(p) as fh:
        return int(fh.read().strip())


def _advance_ledger(appends_dir: str, batch_id: int) -> None:
    """Atomically raise the ledger to ``batch_id`` (temp + rename);
    never lowers it."""
    import uuid

    if batch_id <= _ledger_thru(appends_dir):
        return
    tmp = os.path.join(appends_dir, f"_ledger-{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(batch_id))
    os.replace(tmp, os.path.join(appends_dir, _STREAM_LEDGER))


class _AppendCommit(WriterCommitMessage):
    """Staged file paths from one task (picklable)."""

    def __init__(self, files: tuple):
        self.files = files


def _canon_arrow_type(t) -> str:
    """Canonical type label for the write-time schema check: physical
    encodings that read back interchangeably (string/large_string,
    binary/large_binary, any timestamp unit/tz — the JVM parquet
    writer and pyarrow differ on these) collapse to one label, so the
    check flags REAL type divergence (int vs string) without false
    alarms between the two write paths."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_dictionary(t):
        return _canon_arrow_type(t.value_type)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_canon_arrow_type(t.value_type)}>"
    if pa.types.is_map(t):  # the footer names the map's entry field
        return f"map<{_canon_arrow_type(t.key_type)}, {_canon_arrow_type(t.item_type)}>"
    if pa.types.is_duration(t):  # Spark writes a day-time interval as int64
        return "int64"
    return str(t)


def _check_write_schema(table_dir: str, schema) -> None:
    """Reject a write whose column NAMES or TYPES don't match the
    table base's — the append log unions batches by name at read time,
    so a renamed/missing/reordered column would publish a corrupt
    batch, and a same-named column of a different type (v int vs
    v string) would publish one that only fails or silently coerces at
    a later read, far from the bad writer (ADVICE r6)."""
    import pyarrow.parquet as pq

    base = _data_files(os.path.join(table_dir, "base"))
    if not base:
        raise ValueError(f"table doesn't exist (no base files under {table_dir!r})")
    base_schema = pq.read_schema(base[0])
    want = list(base_schema.names)
    got = [f.name for f in schema.fields] if schema is not None else want
    if got != want:
        raise ValueError(
            f"tablestore write schema mismatch: table columns {want}, "
            f"dataframe columns {got} (names and order must match the base)"
        )
    if schema is None:
        return
    try:
        from pyspark.sql.pandas.types import to_arrow_schema

        got_arrow = to_arrow_schema(schema)
    except Exception:
        return  # no Spark→Arrow conversion available: names-only check
    want_t = {f.name: _canon_arrow_type(f.type) for f in base_schema}
    got_t = {f.name: _canon_arrow_type(f.type) for f in got_arrow}
    bad = [
        f"{n}: table {want_t[n]}, dataframe {got_t[n]}"
        for n in want
        if got_t.get(n) != want_t[n]
    ]
    if bad:
        raise ValueError(
            "tablestore write schema mismatch (column types): " + "; ".join(bad)
        )


class _TableStoreStreamWriter(DataSourceStreamArrowWriter):
    """Streaming SINK into the TableStore append log — the
    ``writeStream`` twin of ``TableStore.append`` and the write-side
    analogue of the reference leader's batch-id dedup (reference
    rainstorm/rainstorm.go:537-575 appends each batch's results to the
    HyDFS dest file exactly once by remembering processed batch ids).

    Exactly-once protocol (two-phase, single atomic publish):

    1. ``write`` (executors, Arrow RecordBatches in — never
       row-at-a-time Python): each task stages ONE parquet part under
       ``appends/_staging/`` and returns its path. Retried tasks stage
       fresh files; only the files named in the SUCCESSFUL tasks'
       commit messages are ever published, so task retries cannot
       duplicate rows within a batch.
    2. ``commit`` (driver): those parts are assembled under a hidden
       ``_commit-<batchId>-*`` dir and published by ``_publish`` — the
       one publication step every writer of the log shares — as
       ``<stamp>-sb<batchId>``: stamp choice and rename happen under
       the per-table append lock, so stamps follow publication order
       across the sink and plain ``TableStore.append``, and a CDC
       reader's high-water offset never skips a batch. Replay dedup
       (crash after publish, before the checkpoint recorded it) is by
       batch id, the reference leader's remembered
       processed-batch set (rainstorm.go:537-575): a batchId is
       already published iff it is ≤ the LEDGER's high-water mark or a
       published dir carries its ``-sb`` suffix; ``commit`` then
       discards the re-staged parts and returns.

    The ledger (``appends/_stream_published.txt``) is written after
    the publish rename; the one crash window in between is covered on
    the other side — ``compact_appends()``/``merge()`` advance the
    ledger from the ``-sb`` names they are about to fold away
    (dfs.TableStore._repair_stream_ledger), so maintenance can never
    erase un-ledgered evidence of publication. The ledger is needed
    beyond the dir-exists check because those folds remove published
    batch dirs — without it a replay after a fold would re-publish
    (duplicates). Empty micro-batches publish nothing (batchId gaps
    are fine: stamps only need to be monotone, not dense).

    Single-writer contract (the reference's: ONE leader owns the dest
    file): one stream QUERY LINEAGE per table — concurrent stream
    writers would collide on batch ids, and a fresh-checkpoint query
    restarting batch ids at 0 on an already-written table would be
    deduped against the old lineage's ledger (write to a new table or
    clear the ledger instead). So every file under ``appends/_staging/``
    that no successful task reported by the end of a commit is an
    orphan, and the commit sweeps it.
    """

    def __init__(self, table_dir: str, schema=None):
        _check_write_schema(table_dir, schema)
        self.table_dir = table_dir
        os.makedirs(self._appends_dir(), exist_ok=True)

    def _appends_dir(self) -> str:
        return os.path.join(self.table_dir, "appends")

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if len(b)]
        if not batches:
            return _AppendCommit(())
        staging = os.path.join(self._appends_dir(), "_staging")
        os.makedirs(staging, exist_ok=True)
        path = os.path.join(staging, f"part-{uuid.uuid4().hex}.parquet")
        pq.write_table(pa.Table.from_batches(batches), path)
        return _AppendCommit((path,))

    @staticmethod
    def _discard(messages) -> None:
        for m in messages:
            if m is None:
                continue
            for f in m.files:
                if os.path.isfile(f):
                    os.remove(f)

    def _sweep_staging(self) -> None:
        """Remove orphaned staged parts: failed or speculative tasks
        never surface in commit messages, so their files would
        otherwise accumulate forever."""
        staging = os.path.join(self._appends_dir(), "_staging")
        if not os.path.isdir(staging):
            return
        for f in os.listdir(staging):
            try:
                os.remove(os.path.join(staging, f))
            except OSError:
                pass

    def _find_published(self, batch_id: int) -> bool:
        return any(
            _stream_batch_id(s) == batch_id for s in _batch_names(self._appends_dir())
        )

    def _gc_commit_dirs(self, batch_id: int) -> None:
        """Remove orphaned ``_commit-<batchId>-*`` dirs left by crashed
        prior attempts. Commits are sequential (single-writer), so any
        with a batch id ≤ the current one is dead: its batch either
        published (dedup covers the replay) or is about to be
        re-assembled from fresh staged parts."""
        import re

        d = self._appends_dir()
        for s in os.listdir(d):
            m = re.match(r"_commit-(\d{8,})-", s)
            if m and int(m.group(1)) <= batch_id:
                shutil.rmtree(os.path.join(d, s), ignore_errors=True)

    def commit(self, messages, batchId: int) -> None:
        import uuid

        ad = self._appends_dir()
        files = [f for m in messages if m is not None for f in m.files]
        self._gc_commit_dirs(batchId)
        if batchId <= _ledger_thru(ad) or self._find_published(batchId):
            # replayed micro-batch: already published — the ledger
            # proves it, or a published dir still carries this batch
            # id's -sb suffix (the ledger write may have been lost to a
            # crash right after the publish rename). Dedup by batch id,
            # discard the re-staged parts, repair the ledger.
            self._discard(messages)
            _advance_ledger(ad, batchId)
            self._sweep_staging()
            return
        if not files:
            return  # empty batch: publish nothing
        # the successful tasks' parts, moved into one hidden batch dir
        tmp = os.path.join(ad, f"_commit-{batchId:08d}-{uuid.uuid4().hex[:8]}")
        os.makedirs(tmp)
        for f in files:
            os.replace(f, os.path.join(tmp, os.path.basename(f)))
        _publish(ad, tmp, f"sb{batchId:08d}")
        _advance_ledger(ad, batchId)
        # single-writer: any parts still staged belong to failed or
        # speculative tasks of batches ≤ this one — orphans
        self._sweep_staging()

    def abort(self, messages, batchId: int) -> None:
        self._discard(messages)
