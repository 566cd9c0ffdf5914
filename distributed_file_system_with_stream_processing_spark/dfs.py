"""TableStore — the HyDFS layer re-expressed Spark-first.

Reference semantics (reference localstorage/localstorage.go,
synchronizer/synchronizer.go, user/user.go):

- ``create``  — upload a file once; error if it exists
  (localstorage.go:55-77).
- ``append``  — buffered ``AppendInfo{timestamp, content}`` records,
  NOT folded into the file until a merge (localstorage.go:79-99).
- ``get``     — triggers a merge, then reads the consolidated file
  (user.go:74-140).
- ``merge``   — collects appends from all replicas, dedups by
  timestamp, sorts by timestamp, applies identically everywhere
  (synchronizer.go:75-139).
- ``ls/store/getfromreplica/list_mem_ids`` — metadata & replica access.

Spark-first translation: a table is a directory of parquet; an append
is a new parquet batch dir named by a monotonic sequence
(``<epoch_ns>-<uuid>``) — the exact analogue of AppendInfo's
timestamp ordering, and like the reference, append is cheap (no
rewrite) while merge compacts. Replication/ring-placement is NOT
re-implemented: on a real deployment the underlying store (HDFS/S3)
owns replica placement and failure recovery, which is the idiomatic
Spark mapping of the membership+ring layers (SURVEY.md §1).

Reads are lazy DataFrames: ONE multi-path parquet scan over the base
dir and every append batch dir, read with the base's schema (taken
from its parquet footer, so building the read runs no Spark job). A
stamped read (``get(with_seq=True)``, ``diff``, ``get_as_of``) also
carries a stable ``_append_seq`` (the batch dir name, or a compacted
batch's per-row stamp) so downstream plans can reproduce byte-order
semantics when they need them (e.g. exporting a line file).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from distributed_file_system_with_stream_processing_spark.sources.pyds import (
    _MAX_SEQ_MARKER,
    _advance_ledger,
    _batch_max_seq,
    _batch_names,
    _canon_arrow_type,
    _check_write_schema,
    _data_files,
    _gc_pending,
    _publish,
    _stream_batch_id,
    _window_batches,
)
from distributed_file_system_with_stream_processing_spark.sources.tables import (
    footer_schema,
    prefers_ntz,
)


class TableStoreError(Exception):
    pass


class TableStore:
    def __init__(
        self, spark: SparkSession, root: str, serialize_appends: bool = False
    ):
        """A store of tables under ``root``. Every append publishes
        under the per-table append lock (see :meth:`append`); the
        ``serialize_appends`` keyword is accepted for existing callers
        and selects nothing."""
        self.spark = spark
        self.root = root
        self._cached: dict[str, DataFrame] = {}
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------

    def _table_dir(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise TableStoreError(f"bad table name {name!r}")
        return os.path.join(self.root, name)

    def _base_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "base")

    def _appends_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "appends")

    def _old_base_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "base.old")

    def _merging_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "base.merging")

    def _append_batches(self, name: str) -> list[str]:
        return _batch_names(self._appends_dir(name))

    def _repair_stream_ledger(self, name: str, batches: list[str]) -> None:
        """Advance the streaming sink's batch-id ledger (sources/pyds.py
        _TableStoreStreamWriter) to cover every published stream batch
        about to be FOLDED AWAY by compact_appends()/merge(). Closes the
        sink's one crash window: publish rename done, crash before the
        ledger write, then maintenance folds the batch dir before the
        replay — without this repair the replay would find neither the
        dir nor a ledger entry and re-publish duplicates. Stream batch
        dirs end in ``-sb<batchId>`` and commit in batch-id order, so
        the max folded id is a valid published-thru floor."""
        ids = [i for i in map(_stream_batch_id, batches) if i is not None]
        if ids:
            _advance_ledger(self._appends_dir(name), max(ids))

    # -- crash recovery ---------------------------------------------------

    _FOLDED_MARKER = "_folded_batches.txt"

    def _recover(self, name: str) -> None:
        """Roll a half-finished merge() swap forward or back.

        The merge swap is two renames (mirroring KeyedUpsertSink's
        protocol, sinks/upsert.py): rename base -> base.old, rename
        base.merging -> base, then clean up. Each intermediate state is
        distinguishable on disk, so a crash at any point is repaired
        here before the next operation touches the table:

        - base missing, base.old present  -> swap died between renames:
          roll BACK (rename base.old -> base); appends are untouched so
          no data is lost, the merge simply didn't happen.
        - base present with the folded-batches marker -> swap finished
          but cleanup didn't: roll FORWARD (delete the folded append
          batches named in the marker, then the marker, then base.old).
        - stray base.merging or base.old next to a healthy base ->
          leftovers of an aborted attempt; delete them.
        """
        tdir = self._table_dir(name)
        base, old, tmp = self._base_dir(name), self._old_base_dir(name), self._merging_dir(name)
        if not os.path.isdir(tdir):
            return
        if not os.path.isdir(base) and os.path.isdir(old):
            os.rename(old, base)  # roll back: merge never took effect
        if os.path.isdir(base):
            marker = os.path.join(base, self._FOLDED_MARKER)
            if os.path.isfile(marker):
                with open(marker) as fh:
                    folded = [ln.strip() for ln in fh if ln.strip()]
                for seq in folded:
                    bdir = os.path.join(self._appends_dir(name), seq)
                    if os.path.isdir(bdir):
                        shutil.rmtree(bdir)
                os.remove(marker)
            if os.path.isdir(old):
                shutil.rmtree(old)
            if os.path.isdir(tmp):
                shutil.rmtree(tmp)
        # -- compact_appends() recovery (independent of the base swap) --
        ad = self._appends_dir(name)
        if os.path.isdir(ad):
            for d in list(os.listdir(ad)):
                if d.startswith(self._COMPACTING_PREFIX):
                    target = d[len(self._COMPACTING_PREFIX):]
                    tpath = os.path.join(ad, target)
                    dpath = os.path.join(ad, d)
                    if os.path.isdir(tpath):
                        # died before the target delete: the originals
                        # are all intact — roll BACK, compaction simply
                        # didn't happen
                        shutil.rmtree(dpath)
                    else:
                        # died between delete and rename: the combined
                        # copy holds every row — roll FORWARD
                        os.rename(dpath, tpath)
            # finish marker-driven deletion of folded batches (crash
            # mid-cleanup leaves the marker; folded dirs are superseded
            # by the combined batch and must not double-read)
            for b in self._append_batches(name):
                marker = os.path.join(ad, b, self._FOLDED_MARKER)
                if os.path.isfile(marker):
                    with open(marker) as fh:
                        folded = [ln.strip() for ln in fh if ln.strip()]
                    for s in folded:
                        sdir = os.path.join(ad, s)
                        if s != b and os.path.isdir(sdir):
                            shutil.rmtree(sdir)
                    os.remove(marker)

    # -- ops mirroring the reference's user commands ----------------------

    def exists(self, name: str) -> bool:
        self._recover(name)
        return os.path.isdir(self._base_dir(name))

    def create(self, name: str, df: DataFrame) -> None:
        """Reference `create localfile hydfsfile`: error if present."""
        if self.exists(name):
            raise TableStoreError(f"table already exists ({name})")
        df.write.mode("errorifexists").parquet(self._base_dir(name))

    def append(self, name: str, df: DataFrame) -> str:
        """Reference `append`: a timestamped batch, deferred until merge.
        O(batch) write — never rewrites the base (the reference's core
        design point: appends are cheap, reads pay for the merge).

        Atomic, like the reference's buffered AppendInfo record: the
        batch is written under a hidden ``_pending-*`` dir (invisible
        to readers), then ``sources/pyds._publish`` bumps its stamp
        past the newest published one and renames it into place under
        the per-table append lock — publication order == stamp order
        against every other writer of the table, stream sink included.
        The Spark write job runs OUTSIDE the lock, so appends
        serialize only on the (microsecond-scale) stamp+rename, not
        on the parquet write.

        A ``df`` whose column names, order or types differ from the
        base's raises ValueError before anything is written (the check
        the stream sink runs): published, such a batch would fail every
        later read of the table."""
        if not self.exists(name):
            raise TableStoreError(f"table doesn't exist ({name})")
        _check_write_schema(self._table_dir(name), df.schema)
        ad = self._appends_dir(name)
        _gc_pending(ad)
        tmp = os.path.join(ad, f"_pending-{uuid.uuid4().hex[:12]}")
        df.write.mode("errorifexists").parquet(tmp)
        seq = _publish(ad, tmp, uuid.uuid4().hex[:8])
        self._invalidate(name)
        return seq

    def multiappend(self, name: str, dfs: list[DataFrame]) -> list[str]:
        """Reference `multiappend file VM1,VM2,... local1,local2,...`
        (user/user.go): launch appends from several clients at once.
        Here: concurrent append batches; each gets its own sequence
        stamp, so merge order is deterministic regardless of which
        thread wins the race — the reference's timestamp-dedup
        guarantee. Every branch routes through :meth:`append`'s
        stage-outside/stamp-under-lock protocol, so concurrent
        branches publish in strict stamp order."""
        import concurrent.futures

        with concurrent.futures.ThreadPoolExecutor(max_workers=len(dfs) or 1) as ex:
            return list(ex.map(lambda df: self.append(name, df), dfs))

    def get(self, name: str, with_seq: bool = False, cache: bool = False) -> DataFrame:
        """Reference `get`: merged view (base + appends in timestamp
        order) as one parquet scan (``_scan``). Lazy — Catalyst prunes
        and pushes filters into that scan.

        ``cache=True`` maps the reference client's read cache
        (cache/cache.go: LRU of merged reads, invalidated by writes) to
        Spark ``persist()``: the merged view is memoized executor-side,
        so repeat reads hit InMemoryTableScan instead of re-scanning
        parquet. Invalidation mirrors the reference too — any append/
        merge/drop on the table unpersists it (see ``_invalidate``)."""
        if not self.exists(name):
            raise TableStoreError(f"table doesn't exist ({name})")
        key = f"{name}|seq={with_seq}"
        if cache and key in self._cached:
            return self._cached[key]
        df = self._scan(name, self._append_batches(name), with_seq=with_seq)
        if cache:
            df = df.persist()
            self._cached[key] = df
        return df

    def _scan(
        self,
        name: str,
        batches: list[str],
        include_base: bool = True,
        with_seq: bool = True,
    ) -> DataFrame:
        """ONE parquet scan over the base dir (``include_base``) and the
        given append batch dirs. ``with_seq`` adds ``_append_seq`` to
        every row: '' for the base, the batch dir name for plain
        batches, and the file's own per-row stamp for compact_appends()
        batches.

        The scan reads with the base's schema, taken from its footer
        (``footer_schema``), so no schema-inference job runs while
        the DataFrame is built. The stamp comes from
        ``_metadata.file_path``, which the optimizer does not prune
        back out when a caller drops ``_append_seq``: the scan would
        still generate every row's file metadata and row index. So a
        read without stamps is the plain scan. Before the read, every
        batch's footer is checked against the base (driver-local
        pyarrow): a batch whose columns or types differ raises
        TableStoreError naming it, instead of being read with nulls or
        coerced values."""
        import pyarrow.parquet as pq

        ad = self._appends_dir(name)
        base_files = _data_files(self._base_dir(name))
        if not base_files:
            raise TableStoreError(f"no base files ({name})")
        base_arrow = pq.read_schema(base_files[0])
        schema = footer_schema(base_files[0], prefers_ntz(self.spark))
        want = {f.name: _canon_arrow_type(f.type) for f in base_arrow}
        for b in batches:
            files = _data_files(os.path.join(ad, b))
            if not files:
                continue
            got = {
                f.name: _canon_arrow_type(f.type)
                for f in pq.read_schema(files[0])
                if f.name != "_append_seq"
            }
            if got != want:
                raise TableStoreError(
                    f"append batch {b!r} of {name!r} does not match the base: "
                    f"columns {got}, base {want}"
                )
        dirs = [self._base_dir(name)] if include_base else []
        dirs += [os.path.join(ad, b) for b in batches]
        if not with_seq:
            return self.spark.read.schema(schema).parquet(*dirs)
        df = self.spark.read.schema(
            StructType(schema.fields + [StructField("_append_seq", StringType())])
        ).parquet(*dirs)
        batch_dir = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -2)
        return df.withColumn(
            "_append_seq",
            F.coalesce(
                F.col("_append_seq"), F.when(batch_dir != "base", batch_dir), F.lit("")
            ),
        )

    _MERGED_THRU_MARKER = "_merged_thru.txt"
    _COMPACTING_PREFIX = "_compacting_"

    def compact_appends(self, name: str) -> int:
        """Fold every pending append batch into ONE batch without
        touching the base — O(pending bytes), vs ``merge()``'s
        O(whole table) rewrite. The LSM stance the reference's design
        implies: appends stay cheap, background compaction bounds the
        batch/file count a reader must list, and the full base rewrite
        happens only at merge.

        Ordering semantics are byte-identical before and after: the
        combined batch stores each row's ORIGINAL stamp in a per-row
        ``_append_seq`` column (``get``/``get_as_of``/``merge`` prefer
        that column over the dir name), is named by the EARLIEST
        folded stamp (so every pre-existing snapshot handle stays
        ≥-comparable), and records its true newest stamp in a
        permanent ``_max_seq`` marker for ``merge()``'s floor.

        Crash-safe; every intermediate state is repaired by
        ``_recover``: the combined copy writes aside under a
        ``_``-prefixed dir (invisible to readers), the earliest
        original is deleted and the copy renamed into its place
        (crash between → roll forward from the copy, which holds every
        row; crash before → roll back, originals intact), and the
        remaining folded batches are deleted marker-driven (crash
        mid-cleanup → recovery finishes the deletes). Returns the
        number of batches folded (0 if fewer than 2 pending)."""
        if not self.exists(name):  # runs _recover() first
            raise TableStoreError(f"table doesn't exist ({name})")
        batches = self._append_batches(name)
        if len(batches) <= 1:
            return 0
        self._repair_stream_ledger(name, batches)
        ad = self._appends_dir(name)
        max_seq = max(_batch_max_seq(ad, b) for b in batches)
        combined = self._scan(name, batches, include_base=False)
        target = batches[0]
        tmp = os.path.join(ad, self._COMPACTING_PREFIX + target)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        combined.write.parquet(tmp)
        with open(os.path.join(tmp, self._FOLDED_MARKER), "w") as fh:
            fh.write("\n".join(batches) + "\n")
        with open(os.path.join(tmp, _MAX_SEQ_MARKER), "w") as fh:
            fh.write(max_seq + "\n")
        shutil.rmtree(os.path.join(ad, target))
        os.rename(tmp, os.path.join(ad, target))
        # cleanup (any crash from here on is finished by _recover)
        for b in batches[1:]:
            shutil.rmtree(os.path.join(ad, b))
        os.remove(os.path.join(ad, target, self._FOLDED_MARKER))
        self._invalidate(name)
        return len(batches)

    def merged_thru(self, name: str) -> str:
        """Highest append sequence folded into the base by a merge
        ('' if the base has never absorbed an append). Parquet readers
        skip ``_``-prefixed files, so the marker rides inside base."""
        if not self.exists(name):
            raise TableStoreError(f"table doesn't exist ({name})")
        marker = os.path.join(self._base_dir(name), self._MERGED_THRU_MARKER)
        if not os.path.isfile(marker):
            return ""
        with open(marker) as fh:
            return fh.read().strip()

    def get_as_of(self, name: str, seq: str) -> DataFrame:
        """Snapshot read: the table as it stood when ``seq`` was the
        newest append — base plus exactly the append batches with
        sequence <= seq. Mirrors the reference's read-at-merge-point
        semantics (HyDFS synchronizer.go:75-139: a reader observes the
        file at a chosen point of the timestamp-ordered append log).

        Sequences are the strings returned by ``append()``; '' means
        "base only". A merge FOLDS appends into the base — history at
        finer grain than the last merge point no longer exists on disk
        (exactly as in the reference, where merge materializes the
        log) — so asking for a snapshot older than ``merged_thru()``
        raises rather than silently returning too-new data.
        """
        if not self.exists(name):
            raise TableStoreError(f"table doesn't exist ({name})")
        floor = self.merged_thru(name)
        if seq < floor:
            raise TableStoreError(
                f"snapshot {seq!r} predates last merge point {floor!r} "
                f"({name}); pre-merge history is folded into the base"
            )
        # a compact_appends() batch is named by its EARLIEST folded
        # stamp and carries per-row stamps — the row filter keeps
        # snapshot precision exact
        df = self._scan(name, _window_batches(self._appends_dir(name), "", seq))
        return df.filter(F.col("_append_seq") <= seq).drop("_append_seq")

    def diff(self, name: str, seq_from: str, seq_to: str) -> DataFrame:
        """Change-data capture between two snapshot points: exactly the
        rows appended with ``seq_from < _append_seq <= seq_to`` — the
        incremental feed a downstream consumer reads instead of
        re-scanning the table (``get_as_of(seq_to)`` minus
        ``get_as_of(seq_from)`` for an append-only log, computed by
        batch/row pruning, never an anti-join). ``seq_from = ''``
        means "since the base" (every append up to ``seq_to``).

        Same folded-history contract as ``get_as_of``: a merge
        materializes the log, so a window that starts before
        ``merged_thru()`` raises instead of silently under-reporting.
        """
        if not self.exists(name):
            raise TableStoreError(f"table doesn't exist ({name})")
        if seq_to < seq_from:
            raise TableStoreError(f"empty diff window ({seq_from!r} > {seq_to!r})")
        floor = self.merged_thru(name)
        if seq_from < floor and seq_from != "" and floor != "":
            raise TableStoreError(
                f"diff start {seq_from!r} predates last merge point {floor!r} "
                f"({name}); pre-merge history is folded into the base"
            )
        if seq_from == "" and floor != "":
            raise TableStoreError(
                f"diff since base unavailable: appends up to {floor!r} are "
                f"folded into the base ({name})"
            )
        # a compacted batch is named by its EARLIEST folded stamp, so
        # rows later than seq_from may live inside an older-named one —
        # the row filter keeps the window exact
        batches = _window_batches(self._appends_dir(name), seq_from, seq_to)
        seq = F.col("_append_seq")
        df = self._scan(name, batches, include_base=False)
        return df.filter((seq > seq_from) & (seq <= seq_to)).drop("_append_seq")

    def _invalidate(self, name: str) -> None:
        """Drop cached reads of ``name`` (write-invalidate, as the
        reference client cache does on create/append)."""
        for key in [k for k in self._cached if k.split("|", 1)[0] == name]:
            self._cached.pop(key).unpersist()

    def get_from_replica(self, name: str, batch: str | None = None) -> DataFrame:
        """Reference `getfromreplica VM file`: read one physical copy.
        Here replicas are the FS's concern, so the analogue is reading
        one specific batch (or the base) without merging."""
        path = (
            self._base_dir(name)
            if batch is None
            else os.path.join(self._appends_dir(name), batch)
        )
        files = _data_files(path)
        if not files:
            raise TableStoreError(f"no such replica/batch ({name}, {batch})")
        return self.spark.read.schema(
            footer_schema(files[0], prefers_ntz(self.spark))
        ).parquet(path)

    def merge(self, name: str) -> int:
        """Reference `merge`: fold appends into the base in sequence
        order, identically for every future reader; idempotent.
        Returns the number of batches folded.

        Crash-safe swap (two renames, never a delete-then-rename gap):
        write the merged copy aside, record which append batches it
        folded (marker inside the new base — parquet readers skip
        ``_``-prefixed files), rename base -> base.old, rename the new
        copy in, then clean up. A crash at ANY point leaves a state
        ``_recover()`` rolls forward or back; the base is never the
        only copy being deleted. Same protocol as KeyedUpsertSink
        (sinks/upsert.py)."""
        if not self.exists(name):  # runs _recover() first
            raise TableStoreError(f"table doesn't exist ({name})")
        batches = self._append_batches(name)
        if not batches:
            return 0
        self._repair_stream_ledger(name, batches)
        merged = self.get(name, with_seq=True).orderBy("_append_seq").drop("_append_seq")
        base, old, tmp = self._base_dir(name), self._old_base_dir(name), self._merging_dir(name)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        merged.write.parquet(tmp)
        with open(os.path.join(tmp, self._FOLDED_MARKER), "w") as fh:
            fh.write("\n".join(batches) + "\n")
        # permanent merge watermark for get_as_of (folded history is
        # gone from disk; snapshots below this floor must refuse).
        # _batch_max_seq, not batches[-1]: a compact_appends() batch is
        # named by its EARLIEST folded stamp but contains newer rows.
        ad = self._appends_dir(name)
        with open(os.path.join(tmp, self._MERGED_THRU_MARKER), "w") as fh:
            fh.write(max(_batch_max_seq(ad, b) for b in batches) + "\n")
        os.rename(base, old)
        os.rename(tmp, base)
        # cleanup (any crash from here on is finished by _recover)
        for seq in batches:
            shutil.rmtree(os.path.join(self._appends_dir(name), seq))
        os.remove(os.path.join(base, self._FOLDED_MARKER))
        shutil.rmtree(old)
        self._invalidate(name)
        return len(batches)

    def ls(self, name: str) -> dict:
        """Reference `ls file`: where a file lives. Here: physical layout."""
        if not self.exists(name):
            raise TableStoreError(f"table doesn't exist ({name})")
        return {
            "table": name,
            "base": self._base_dir(name),
            "pending_appends": self._append_batches(name),
        }

    def store(self) -> list[str]:
        """Reference `store`: list tables this node hosts. Only tables
        with a (possibly recoverable) base count — a directory whose
        create() died mid-write is not a hosted table."""
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "base"))
            or os.path.isdir(os.path.join(self.root, d, "base.old"))
        )

    def drop(self, name: str) -> None:
        self._invalidate(name)
        d = self._table_dir(name)
        if os.path.isdir(d):
            shutil.rmtree(d)


def list_members(spark: SparkSession) -> list[dict]:
    """Reference `list_mem_ids` (ring membership with node ids,
    user/user.go): the Spark-native membership list is the executor
    set — liveness and placement are the cluster manager's job
    (SURVEY.md §1), so this is a read-only view, not a protocol."""
    jtracker = spark.sparkContext._jsc.sc().statusTracker()
    return [
        {"host": i.host(), "n_running_tasks": i.numRunningTasks()}
        for i in jtracker.getExecutorInfos()
    ]
