"""Spark 4 Python DataSource over the TableStore append-log.

``spark.read.format("tablestore").option("root", ...).option("table",
...)`` reads a TableStore table (reference HyDFS file: base + deferred
append batches, dfs.py) through the PLUGGABLE source API
(pyspark.sql.datasource) instead of ``TableStore.get``'s native scan:

- one ``InputPartition`` per data FILE (base and append batches alike),
  so a 100 TB log fans out across executors exactly like the native
  parquet reader — the planner sees N independent splits;
- each partition reads its file with pyarrow and yields Arrow
  RecordBatches (the zero-copy fast path of the Python DataSource API)
  with the batch's ``_append_seq`` stamped on (compacted batches keep
  their per-row stamps), reproducing the merged view's ordering
  contract (``get(with_seq=True)``).

Role: API surface + a second, independently-implemented reader for the
same on-disk format (the tests cross-check it row-for-row against
``TableStore.get``). ``TableStore.get`` remains the performance path
at scale — one multi-path JVM parquet scan of the base and every batch
dir, with parquet vectorization and filter pushdown, which Python
DataSources do not get (Spark evaluates filters above the source);
docstring-level honesty about that division is part of the design.

The reference has no pluggable source layer (its reads are RPCs into
localstorage.go); this mirrors HyDFS read semantics onto Spark's
official extension point.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)


class _FileSplit(InputPartition):
    def __init__(self, path: str, seq: str):
        self.path = path
        self.seq = seq


def _data_files(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


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
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import StringType, StructField

        base = _data_files(os.path.join(self._table_dir(), "base"))
        if not base:
            raise ValueError(f"no base files under {self._table_dir()!r}")
        st = from_arrow_schema(pq.read_schema(base[0]))
        return st.add(StructField("_append_seq", StringType(), False))

    def reader(self, schema) -> DataSourceReader:
        return _TableStoreReader(self._table_dir(), [f.name for f in schema.fields])

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
        return _TableStoreStreamWriter(
            self._table_dir(), schema, serialize=self._serialize_opt()
        )

    def writer(self, schema, overwrite: bool):
        return _TableStoreBatchWriter(
            self._table_dir(), schema, overwrite, serialize=self._serialize_opt()
        )

    def _serialize_opt(self) -> bool:
        """``.option("serializeAppends", "true")``: publish under the
        per-table append lock (locks.append_lock) so stamp order ==
        publication order against concurrent opted-in plain appends —
        closes the documented CDC stamp-vs-rename race for deployments
        without a single-writer contract."""
        return str(self.options.get("serializeappends", "false")).lower() == "true"


class _TableStoreReader(DataSourceReader):
    def __init__(self, table_dir: str, columns: list[str]):
        self.table_dir = table_dir
        self.columns = columns

    def partitions(self):
        splits = [
            _FileSplit(p, "") for p in _data_files(os.path.join(self.table_dir, "base"))
        ]
        appends = os.path.join(self.table_dir, "appends")
        if os.path.isdir(appends):
            for seq in sorted(os.listdir(appends)):
                if seq.startswith(("_", ".")):
                    continue  # markers / the sink's staging area
                for p in _data_files(os.path.join(appends, seq)):
                    splits.append(_FileSplit(p, seq))
        return splits

    def read(self, partition: _FileSplit):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.path)
        if "_append_seq" not in tbl.column_names:
            # plain batch: stamp its dir name; a compact_appends() batch
            # keeps the per-row original stamps it already carries
            tbl = tbl.append_column(
                "_append_seq", pa.array([partition.seq] * len(tbl), pa.string())
            )
        # column order must match the declared schema exactly
        tbl = tbl.select(self.columns)
        yield from tbl.to_batches()


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


class _TableStoreStreamReader(DataSourceStreamReader):
    """Streaming CDC over the TableStore append log — the
    ``readStream`` twin of ``TableStore.diff``: each micro-batch is
    exactly the rows appended with ``start < _append_seq <= end``.

    Offsets are ``{"seq": <stamp>}`` — the append-log high-water mark,
    monotone because stamps are lexicographic sequence strings.
    ``partitions(start, end)`` emits one split per NEW data file, so
    the micro-batch fans out across executors like the batch reader
    (this is the partition-based ``DataSourceStreamReader`` API, not
    the driver-side simple reader — rows never funnel through the
    driver). Compacted batches (dir named by the EARLIEST folded
    stamp, per-row ``_append_seq`` column, ``_MAX_SEQ`` marker) are
    included when their max stamp is in-window and their rows are
    re-filtered row-level in ``read`` — the same precision contract as
    ``TableStore.diff``, so a compaction between two triggers neither
    drops nor duplicates rows. The base is NOT part of the stream (a
    CDC consumer bootstraps from the batch reader / ``get_as_of``,
    then tails appends from that point).
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
        if not os.path.isdir(d):
            return {"seq": ""}
        seqs = [s for s in os.listdir(d) if not s.startswith(("_", "."))]
        if not seqs:
            return {"seq": ""}
        return {"seq": max(_batch_max_seq(d, s) for s in seqs)}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["seq"], end["seq"]
        d = self._appends_dir()
        splits: list[_StreamSplit] = []
        if not os.path.isdir(d) or hi <= lo:
            return splits
        for seq in sorted(os.listdir(d)):
            if seq.startswith(("_", ".")):
                continue
            if _batch_max_seq(d, seq) <= lo or seq > hi:
                continue
            for p in _data_files(os.path.join(d, seq)):
                splits.append(_StreamSplit(p, seq, lo, hi))
        return splits

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
    """THE publication-order stamp rule, shared by every writer that
    needs monotonicity (the stream sink always; the batch writer and
    TableStore.append under serializeAppends): wall time_ns bumped
    past the newest existing stamp — dir names and compacted batches'
    _max_seq markers — so publication order == stamp order whenever
    stamping happens under the append lock."""
    import time

    stamp = time.time_ns()
    if os.path.isdir(appends_dir):
        seqs = [s for s in os.listdir(appends_dir) if not s.startswith(("_", "."))]
        if seqs:
            cur = max(_batch_max_seq(appends_dir, s) for s in seqs)
            stamp = max(stamp, int(cur[:20]) + 1)
    return f"{stamp:020d}"


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


class _StagedPartsMixin:
    """Shared two-phase staging for both writers: tasks stage one
    Arrow-fed parquet part each under ``appends/_staging/`` and return
    its path; only paths named in SUCCESSFUL tasks' commit messages
    are ever published, so task retries cannot duplicate rows within a
    batch. ``_PART_PREFIX`` keeps the two writers' staged files apart
    (a stream sink may legitimately run concurrently with batch
    appends on the same table)."""

    table_dir: str
    _PART_PREFIX = "part"

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
        path = os.path.join(
            staging, f"{self._PART_PREFIX}-{uuid.uuid4().hex}.parquet"
        )
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

    def _sweep_staging(self, keep: set, min_age_s: float = 0.0) -> None:
        """Remove this writer's orphaned staged parts (failed or
        speculative tasks never surface in commit messages, so their
        files would otherwise accumulate forever). Only files with our
        prefix are touched — a concurrent writer of the OTHER kind
        keeps its staging intact. ``min_age_s`` protects writers
        WITHOUT a single-writer contract (concurrent batch appends):
        only parts older than the window are swept."""
        import time

        staging = os.path.join(self._appends_dir(), "_staging")
        if not os.path.isdir(staging):
            return
        cutoff = time.time() - min_age_s
        for f in os.listdir(staging):
            p = os.path.join(staging, f)
            if f.startswith(self._PART_PREFIX + "-") and p not in keep:
                try:
                    if os.path.getmtime(p) <= cutoff:
                        os.remove(p)
                except OSError:
                    pass


class _TableStoreStreamWriter(_StagedPartsMixin, DataSourceStreamArrowWriter):
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
    2. ``commit`` (driver): the batch publishes under a MONOTONE stamp
       — ``max(time_ns, newest existing stamp + 1)`` — suffixed with
       the checkpointed batchId (``<stamp>-sb<batchId>``), via one
       atomic ``rename`` of the assembled dir into ``appends/``.
       Monotone against BOTH write paths: a plain ``TableStore.append``
       interleaved with the running sink can never out-stamp a later
       stream batch, so a CDC reader's high-water offset never
       silently skips stream batches (stamps follow publication
       order, which is what the offset contract actually requires).
       Replay dedup (crash after publish, before the checkpoint
       recorded it) is by batch id, the reference leader's remembered
       processed-batch set (rainstorm.go:537-575): a batchId is
       already published iff it is ≤ the LEDGER's high-water mark or a
       published dir carries its ``-sb`` suffix; ``commit`` then
       discards the re-staged parts and returns.

    The ledger (``appends/_stream_published.txt``) is written after
    the publish rename; the one crash window in between is covered on
    the other side — ``compact_appends()``/``merge()`` advance the
    ledger from the ``-sb`` names they are about to fold away
    (dfs.TableStore._repair_stream_ledger), so maintenance can never
    erase un-ledgered evidence of publication. Empty micro-batches
    publish nothing (batchId gaps are fine: stamps only need to be
    monotone, not dense).

    Single-writer contract (the reference's: ONE leader owns the dest
    file): one stream QUERY LINEAGE per table — concurrent stream
    writers would collide on batch ids, and a fresh-checkpoint query
    restarting batch ids at 0 on an already-written table would be
    deduped against the old lineage's ledger (write to a new table or
    clear the ledger instead).
    """

    _PART_PREFIX = "s-part"

    def __init__(self, table_dir: str, schema=None, serialize: bool = False):
        _check_write_schema(table_dir, schema)
        self.table_dir = table_dir
        self.serialize = serialize
        os.makedirs(self._appends_dir(), exist_ok=True)

    _LEDGER = "_stream_published.txt"

    def _next_stamp(self) -> str:
        """20-digit publication stamp: wall time_ns, bumped past the
        newest existing stamp (dir names and compacted dirs' _max_seq
        markers) so publication order == stamp order even when a plain
        append's stamp landed ahead of this sink's clock.

        Residual race, lock-free: a concurrent plain append starting
        in the microseconds between this listing and the publish
        rename takes a later time_ns but may rename first — a CDC
        reader polling in exactly that window could advance past the
        not-yet-renamed stream batch. Callers needing a hard guarantee
        either serialize appends with the sink's commit cadence (the
        single-writer deployment the reference also assumes) or opt
        BOTH write paths into the per-table append lock
        (``serializeAppends`` here, ``serialize_appends=True`` on the
        TableStore — locks.append_lock), which makes stamp choice +
        publish rename one critical section."""
        return _bumped_stamp(self._appends_dir())

    def _find_published(self, batch_id: int) -> bool:
        # zero-pad-aware: parse the -sb suffix back to an int instead
        # of string-matching the :08d form, so batch ids past 10**8
        # (9+ digits — :08d pads, never truncates) still dedup
        # (ADVICE r6)
        import re

        d = self._appends_dir()
        return any(
            m and int(m.group(1)) == batch_id
            for s in os.listdir(d)
            if not s.startswith(("_", "."))
            for m in [re.search(r"-sb(\d{8,})$", s)]
        )

    def _published_thru(self) -> int:
        """The sink's own batch-id ledger (the reference leader's
        remembered processed-batch set, rainstorm.go:537-575): the
        highest batchId ever PUBLISHED to this table. Needed beyond
        the dir-exists check because a later ``compact_appends()`` /
        ``merge()`` folds published batch dirs away — without the
        ledger a replay after a fold would re-publish (duplicates)."""
        p = os.path.join(self._appends_dir(), self._LEDGER)
        if not os.path.isfile(p):
            return -1
        with open(p) as fh:
            return int(fh.read().strip())

    def _record_published(self, batch_id: int) -> None:
        """Atomically advance the ledger (temp + rename). Written
        AFTER the publish rename: a crash in between leaves the dir on
        disk, so the replay's dir-exists check still dedups and then
        repairs the ledger."""
        import uuid

        d = self._appends_dir()
        cur = self._published_thru()
        if batch_id <= cur:
            return
        tmp = os.path.join(d, f"_ledger-{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(batch_id))
        os.replace(tmp, os.path.join(d, self._LEDGER))

    def _gc_commit_dirs(self, batch_id: int) -> None:
        """Remove orphaned ``_commit-*`` dirs left by crashed prior
        attempts. Commits are sequential (single-writer), so any
        ``_commit`` dir with an embedded batch number ≤ the current one
        is dead: its batch either published (dedup covers the replay)
        or is about to be re-assembled from fresh staged parts."""
        import re
        import shutil

        d = self._appends_dir()
        for s in os.listdir(d):
            m = re.match(r"_commit-(\d{8,})-", s)
            # exactly-20-digit ids are the BATCH writer's time_ns-stamp
            # namespace (_commit-<20-digit>-<hex>) — never this sink's
            # batchIds; skip them explicitly instead of relying on the
            # numeric comparison to stay false at 1.7e18
            if m and len(m.group(1)) != 20 and int(m.group(1)) <= batch_id:
                shutil.rmtree(os.path.join(d, s), ignore_errors=True)

    def commit(self, messages, batchId: int) -> None:
        import shutil
        import uuid

        files = [f for m in messages if m is not None for f in m.files]
        self._gc_commit_dirs(batchId)
        if batchId <= self._published_thru() or self._find_published(batchId):
            # replayed micro-batch: already published — the ledger
            # proves it, or a published dir still carries this batch
            # id's -sb suffix (the ledger write may have been lost to a
            # crash right after the publish rename). Dedup by batch id,
            # discard the re-staged parts, repair the ledger.
            for f in files:
                if os.path.isfile(f):
                    os.remove(f)
            self._record_published(batchId)
            self._sweep_staging(set())
            return
        if not files:
            return  # empty batch: publish nothing
        tmp = os.path.join(
            self._appends_dir(), f"_commit-{batchId:08d}-{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(tmp)
        for f in files:
            os.replace(f, os.path.join(tmp, os.path.basename(f)))
        from distributed_file_system_with_stream_processing_spark.locks import (
            append_lock,
        )

        # under serializeAppends the stamp choice and the publish
        # rename are one critical section — no opted-in plain append
        # can stamp later yet rename earlier (the CDC race)
        with append_lock(self._appends_dir(), self.serialize):
            final = os.path.join(
                self._appends_dir(), f"{self._next_stamp()}-sb{batchId:08d}"
            )
            try:
                os.rename(tmp, final)  # the atomic publish
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
        self._record_published(batchId)
        # single-writer: any of our parts still staged belong to failed
        # or speculative tasks of batches ≤ this one — orphans
        self._sweep_staging(set())

    def abort(self, messages, batchId: int) -> None:
        self._discard(messages)


class _TableStoreBatchWriter(_StagedPartsMixin, DataSourceArrowWriter):
    """Batch SINK into the TableStore append log — ``df.write.format(
    "tablestore").mode("append")`` becomes ONE append batch, published
    with the same stage-then-atomic-rename protocol as the streaming
    writer (tasks stage Arrow-fed parquet parts; the driver's commit
    assembles only the SUCCESSFUL tasks' parts and renames once).

    The stamp is a fresh ``time_ns-uuid`` exactly like
    ``TableStore.append`` (dfs.py:163) — the two write paths are
    interchangeable in merge order, snapshots and CDC. Mirroring the
    reference's write model (HyDFS has create + append, never
    in-place overwrite), ``mode("overwrite")`` is rejected.

    Unlike the stream sink there is NO single-writer contract here
    (concurrent batch appends are legal, like TableStore.append), so
    housekeeping is age-gated: only staged parts and ``_commit`` dirs
    older than an hour — orphans of crashed jobs, never a live
    commit's — are swept.

    Role: API completeness for the pluggable source (read /
    streamRead / streamWrite / write); ``TableStore.append`` remains
    the performance path (JVM parquet writer, no Python hop).
    """

    _PART_PREFIX = "b-part"
    _ORPHAN_AGE_S = 3600.0

    def __init__(self, table_dir: str, schema, overwrite: bool, serialize: bool = False):
        if overwrite:
            raise ValueError(
                "tablestore is an append log: mode('overwrite') is not "
                "supported (use TableStore.create / merge)"
            )
        _check_write_schema(table_dir, schema)
        self.table_dir = table_dir
        self.serialize = serialize

    def commit(self, messages) -> None:
        import time
        import uuid

        from distributed_file_system_with_stream_processing_spark.locks import (
            append_lock,
        )

        files = [f for m in messages if m is not None for f in m.files]
        if not files:
            return
        suffix = uuid.uuid4().hex[:8]
        tmp = os.path.join(
            self._appends_dir(), f"_commit-{time.time_ns():020d}-{suffix}"
        )
        os.makedirs(tmp)
        for f in files:
            os.replace(f, os.path.join(tmp, os.path.basename(f)))
        # under serializeAppends, stamp-bump + publish are one critical
        # section (publication order == stamp order); lock-free, the
        # stamp is plain time_ns — TableStore.append's semantics
        with append_lock(self._appends_dir(), self.serialize):
            if self.serialize:
                seq = f"{self._bumped_stamp()}-{suffix}"
            else:
                seq = f"{time.time_ns():020d}-{suffix}"
            os.rename(tmp, os.path.join(self._appends_dir(), seq))
        self._gc_orphans()

    def _bumped_stamp(self) -> str:
        return _bumped_stamp(self._appends_dir())

    def _gc_orphans(self) -> None:
        """Sweep crashed jobs' leftovers: our staged parts and batch
        ``_commit-*`` dirs (20-digit-stamp names, distinct from the
        stream's ``_commit-<batchId>-``) past the age gate."""
        import re
        import shutil
        import time

        self._sweep_staging(set(), min_age_s=self._ORPHAN_AGE_S)
        d = self._appends_dir()
        cutoff = time.time() - self._ORPHAN_AGE_S
        for s in os.listdir(d):
            if re.match(r"_commit-\d{20}-", s):
                p = os.path.join(d, s)
                try:
                    if os.path.getmtime(p) <= cutoff:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass

    def abort(self, messages) -> None:
        self._discard(messages)
