"""RainStorm user-op model, Spark-first.

The reference ships user logic as standalone executables invoked per
5-line batch (reference rainstorm/rainstorm.go:396-410 execs op1,
:491-505 execs op2) that print JSON ``{"Type": "Transform"|"Aggregate",
"Data": ...}`` (rainstorm.go:532-535). That contract has exactly two
op families, re-expressed here as declarative DataFrame rewrites so
Catalyst fuses the whole pipeline (filter pushdown through both
stages, map-side partial aggregation) instead of forking a process
per batch:

- ``TransformOp``  — rows in → rows out (filter/project/flatMap).
- ``AggregateOp``  — rows in → running (key, count|agg) state; in
  streaming this is a stateful groupBy in update mode, the exact
  analogue of the leader's running ``AggregateCounts`` map
  (rainstorm.go:551-559).

Arbitrary Python logic (the "custom executable" escape hatch) goes
through ``python_transform`` — an Arrow-batched ``mapInPandas``, the
Spark-idiomatic replacement for exec'ing a binary per batch.

Stateful stream ops keep their state one of two ways:

- Native: an op whose output row is a running aggregate per key (a
  count, sum, min or max, like the leader's ``AggregateCounts``) is a
  keyed aggregation that Spark runs in update mode and keeps the state
  of itself. One plan serves bounded and streaming input
  (``MinHashSketchOp``, ``CompletenessMonitorOp``).
- Fold: an op that emits per-trigger deltas, or whose state depends
  on arrival order, runs a per-key fold through ``_keyed_fold``
  (``applyInPandasWithState``), the one Python-state scaffold here.

A fold op supplies ``step(key, pdf, state) -> (new_state, rows)``:

- ``key`` is the grouping-key tuple;
- ``pdf`` is the key's non-empty rows of this trigger, one pandas
  frame (a single Arrow chunk is passed as is, never copied);
- ``state`` is the stored state tuple, or ``None`` for a key seen for
  the first time;
- ``new_state`` is the tuple to store, matching the state schema;
- ``rows`` is a list of tuples or a pandas frame, in the output
  schema's column order.

``_keyed_fold`` owns the rest: a key with no rows emits an empty frame
and leaves its state alone. An op that ends a key's state once the
watermark passes a point (``SessionPathOp``, ``RetentionMatrixOp``,
``SessionDepthOp``) also passes an event-time expiry; see
``_keyed_fold``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _columns(ddl: str) -> list[str]:
    """Top-level column names of a DDL schema string, e.g.
    ``"k string, xs array<long>"`` → ``["k", "xs"]``."""
    cols, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        depth += (ch in "<(") - (ch in ">)")
        if ch == "," and depth == 0:
            cols.append(ddl[start:i].split()[0])
            start = i + 1
    return cols


def _keyed_fold(
    df: DataFrame,
    keys: list[str],
    out_schema: str,
    state_schema: str,
    step: Callable,
    mode: str = "update",
    expiry: tuple[Callable, Callable] | None = None,
) -> DataFrame:
    """Run ``step`` (see the module docstring) as a per-key fold over
    ``df`` with ``applyInPandasWithState``. ``mode`` is the operator
    output mode. Builds no Spark object itself, so the fold can be
    captured and driven without a session.

    Without ``expiry`` the fold has no timeout. ``expiry`` is a pair
    ``(deadline, on_expire)`` that turns on an event-time timeout (the
    caller sets the watermark):

    - ``deadline(new_state, watermark_ms)`` runs after each ``step``
      and returns the epoch-ms at which the key expires, or ``None`` to
      register no timeout;
    - ``on_expire(key, state) -> (new_state, rows)`` runs instead of
      ``step`` when the key's timeout fires. A ``new_state`` of
      ``None`` removes the key's state; a tuple keeps it, and no new
      timeout is registered."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = _columns(out_schema)
    deadline, on_expire = expiry or (None, None)

    def frame(rows):
        return rows if isinstance(rows, pd.DataFrame) else pd.DataFrame(rows, columns=cols)

    def update(key, pdfs: Iterator, state) -> Iterator:
        if on_expire is not None and state.hasTimedOut:
            new_state, rows = on_expire(key, state.get)
            if new_state is None:
                state.remove()
            else:
                state.update(new_state)
            yield frame(rows)
            return
        parts = [p for p in pdfs if len(p)]
        if not parts:
            yield frame([])
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts)
        new_state, rows = step(key, pdf, state.get if state.exists else None)
        state.update(new_state)
        if deadline is not None:
            ms = deadline(new_state, state.getCurrentWatermarkMs())
            if ms is not None:
                state.setTimeoutTimestamp(ms)
        yield frame(rows)

    timeout = GroupStateTimeout.EventTimeTimeout if expiry else GroupStateTimeout.NoTimeout
    return df.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, mode, timeout
    )


@dataclass
class TransformOp:
    """Row-preserving-or-filtering op (reference 'Transform' family)."""

    name: str
    apply: Callable[[DataFrame], DataFrame]

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df)


@dataclass
class AggregateOp:
    """Keyed aggregation op (reference 'Aggregate' family).

    ``keys`` are the category columns; ``aggs`` the aggregate columns
    (default: count(*) as cnt — the reference's category counter).
    """

    name: str
    keys: list[str]
    aggs: list[Column] = field(default_factory=list)

    def __call__(self, df: DataFrame) -> DataFrame:
        aggs = self.aggs or [F.count(F.lit(1)).alias("cnt")]
        return df.groupBy(*self.keys).agg(*aggs)


@dataclass
class StatefulCountOp:
    """The reference leader's running ``AggregateCounts`` map with its
    per-batch update prints (reference rainstorm/rainstorm.go:551-575:
    every deduped batch bumps totals and prints each changed category)
    — as an ``applyInPandasWithState`` operator: per-key state holds
    the running total; every trigger emits ``(key, total, delta)``,
    i.e. exactly the update log the reference prints.

    Batch twin (``__call__`` on a bounded df) returns the final state
    only — which is what the update log converges to.

    ``mode`` is the OPERATOR output mode passed to
    ``applyInPandasWithState`` — "update" (default, pairs with
    update-mode sinks like the memory update log) or "append" (the
    emitted rows are an append-only update LOG either way, so
    append-mode sinks that reject update mode — e.g. the tablestore
    Python DataSource sink — consume the identical rows).
    """

    name: str
    keys: list[str]
    key_type: str = "string"
    mode: str = "update"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        return df.groupBy(*self.keys).agg(F.count(F.lit(1)).alias("total"))

    def stream_apply(self, df: DataFrame) -> DataFrame:
        keys = list(self.keys)
        out_schema = (
            ", ".join(f"{k} {self.key_type}" for k in keys) + ", total long, delta long"
        )

        def step(key, pdf, state):
            delta = len(pdf)
            total = (state[0] if state else 0) + delta
            return (total,), [tuple(key) + (total, delta)]

        return _keyed_fold(df, keys, out_schema, "total long", step, self.mode)


@dataclass
class TransitionCountOp:
    """Per-key event-sequence CHAINING state — the streaming twin of
    the batch Markov transition matrix (plans/llm_ops5.
    events_transition_matrix): per-user state holds the LAST event
    type, each trigger sorts its arrivals by (ts, event_id), chains
    them onto the remembered tail, and emits the trigger's transition
    deltas (user_id, prev_type, next_type, delta). Unlike the
    running-counts op (state = one total) this is the
    sequence-continuation shape: O(1) state per key, yet the emitted
    deltas SUM to exactly the batch lead()-window pair counts when
    arrival order respects per-user event time (the id-ordered
    contract the incremental substring index documents).

    Batch twin (``__call__`` on a bounded df) runs the lead() window
    directly — the plan the streaming deltas converge to.
    """

    name: str
    user_col: str = "user_id"
    type_col: str = "event_type"
    ts_col: str = "ts"
    id_col: str = "event_id"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        w = Window.partitionBy(self.user_col).orderBy(self.ts_col, self.id_col)
        return (
            df.select(
                F.col(self.user_col).alias("user_id"),
                F.col(self.type_col).alias("prev_type"),
                F.lead(self.type_col).over(w).alias("next_type"),
            )
            .filter(F.col("next_type").isNotNull())
            .groupBy("user_id", "prev_type", "next_type")
            .agg(F.count(F.lit(1)).alias("delta"))
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        tcol, tscol, idcol = self.type_col, self.ts_col, self.id_col
        out_schema = "user_id long, prev_type string, next_type string, delta long"

        def step(key, pdf, state):
            seq = list(pdf.sort_values([tscol, idcol])[tcol])
            prev = state[0] if state else None
            chain = ([prev] if prev is not None else []) + seq
            counts: dict[tuple[str, str], int] = {}
            for a, b in zip(chain, chain[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
            return (seq[-1],), [(key[0], a, b, n) for (a, b), n in sorted(counts.items())]

        return _keyed_fold(df, [self.user_col], out_schema, "last string", step)


@dataclass
class QuotaSampleOp:
    """Per-key INGESTION QUOTA — stateful admission control: admit at
    most ``quota`` rows per key across the whole stream (the
    first-N-per-source cap a mixing pipeline applies at ingest, e.g.
    'at most 1M docs from any single crawl host'). State per key is
    one running count; each trigger sorts its arrivals by ``order_col``
    so admission is deterministic, admits until the key's quota is
    exhausted, and drops the rest — a stateful FILTER, the third
    state shape next to running totals and sequence chaining.

    Batch twin (``__call__``): row_number window per key over the same
    order ≤ quota. For id-ordered arrival the streamed admissions
    equal the batch window exactly (pinned in
    tests/test_streaming_stateful.py).
    """

    name: str
    key_col: str
    order_col: str
    quota: int
    key_type: str = "string"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        w = Window.partitionBy(self.key_col).orderBy(self.order_col)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.quota)
            .select(self.key_col, self.order_col)
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        kcol, ocol, quota = self.key_col, self.order_col, self.quota
        out_schema = f"{kcol} {self.key_type}, {ocol} long"

        def step(key, pdf, state):
            taken = state[0] if state else 0
            room = max(quota - taken, 0)
            if room == 0:
                return (taken,), []
            admitted = pdf.sort_values(ocol).head(room)
            return (taken + len(admitted),), admitted[[kcol, ocol]]

        return _keyed_fold(df, [kcol], out_schema, "taken long", step)


def dedup_by(keys: list[str], ts_col: str | None = None, watermark: str = "1 hour") -> TransformOp:
    """Ingest dedup on key columns — the op-level twin of the
    reference's UploadedBatchLineNumbers set (reference
    rainstorm/rainstorm.go:537-575 drops re-sent batches by ID).
    Streaming: ``dropDuplicatesWithinWatermark`` so state is bounded by
    the watermark instead of growing forever; batch: plain
    ``dropDuplicates``."""

    def apply(df: DataFrame) -> DataFrame:
        if df.isStreaming and ts_col is not None:
            return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
        return df.dropDuplicates(keys)

    return TransformOp(name=f"dedup_by({','.join(keys)})", apply=apply)


@dataclass
class WindowedCountOp:
    """Event-time tumbling-window counts with a watermark bounding
    state (and dropping late data past the watermark). The reference
    has no event-time story — its 'time' is arrival order of batches —
    so this is the Spark-native upgrade of the Aggregate family.
    """

    name: str
    ts_col: str
    window: str = "1 hour"
    watermark: str = "1 hour"
    keys: list[str] = field(default_factory=list)

    def __call__(self, df: DataFrame) -> DataFrame:
        src = df.withWatermark(self.ts_col, self.watermark) if df.isStreaming else df
        return (
            src.groupBy(F.window(self.ts_col, self.window), *self.keys)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.col("window.start").alias("window_start"),
                *self.keys,
                F.col("cnt"),
            )
        )


@dataclass
class SlidingCountOp:
    """Event-time SLIDING-window counts (window length > slide): each
    event lands in ``window/slide`` overlapping windows, the standard
    burst-rate surface a tumbling window under-counts (a burst split
    across a boundary never shows its true peak — the batch twin of
    this is ``events_peak_rate``'s exact RANGE frame). Watermark
    bounds state exactly as the tumbling op: closed windows age out
    once the watermark passes window_end + slack.

    100 TB shape: Spark expands each row into its windows BEFORE the
    partial agg (an explode by window/slide — constant factor), so the
    shuffle carries (window, key) partial counts, never raw events.
    Identical semantics batch vs streaming (batch: watermark no-op).
    """

    name: str
    ts_col: str
    window: str = "1 hour"
    slide: str = "15 minutes"
    watermark: str = "1 hour"
    keys: list[str] = field(default_factory=list)

    def __call__(self, df: DataFrame) -> DataFrame:
        src = df.withWatermark(self.ts_col, self.watermark) if df.isStreaming else df
        return (
            src.groupBy(F.window(self.ts_col, self.window, self.slide), *self.keys)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.col("window.start").alias("window_start"),
                *self.keys,
                F.col("cnt"),
            )
        )


@dataclass
class SessionPathOp:
    """Per-user streaming SESSION-PATH mining — the streaming twin of
    the batch ``session_path_topk`` (plans/llm_ops8): per-user state
    holds the last-two event types of the OPEN session plus its last
    event time; each trigger sorts its arrivals by (ts, event_id),
    splits on the 30-min inactivity gap (including the gap against the
    remembered cross-trigger tail), slides a 3-window over each
    session run, and emits the trigger's 3-step path deltas
    (user_id, path, delta).

    Extends TransitionCountOp's sequence-continuation shape from
    pairs to triples AND adds the session-boundary reset — the state
    is still O(1) per key (two strings + one long), yet the summed
    deltas equal the batch lead()/lead(2) in-session path counts
    when arrival order respects per-user event time (the id-ordered
    contract the chaining ops document).

    Batch twin (``__call__`` on a bounded df) runs the sessionize +
    double-lead window directly and aggregates per (user, path) — the
    plan the streaming deltas converge to.

    ``evict_on_watermark=True`` bounds total state by the watermark
    horizon — essential when the user keyspace grows without bound
    (the 100 TB streaming regime): once the watermark passes
    last_sec + gap + 1s (the extra second covers sub-second event
    times — an event in [last_sec+gap, last_sec+gap+1) still has
    whole-second distance == gap and does NOT split in the batch
    twin), the remembered tail is semantically DEAD (any future event
    would reset it at the inactivity split anyway), so an event-time
    timeout removes the key's state with zero effect on emitted
    paths. Eviction changes memory, never output.
    """

    name: str
    user_col: str = "user_id"
    type_col: str = "event_type"
    ts_col: str = "ts"
    id_col: str = "event_id"
    gap_s: int = 1800
    evict_on_watermark: bool = False
    watermark: str = "10 seconds"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        # Null contract (shared with stream_apply): a NULL event_type
        # row does not exist — it neither extends a path nor moves the
        # inactivity clock. Without this the twins diverge: concat_ws
        # silently skips NULLs (emitting 2-step "3-paths") while the
        # streaming ' > '.join raises on None.
        df = df.filter(F.col(self.type_col).isNotNull())
        w = Window.partitionBy(self.user_col).orderBy(self.ts_col, self.id_col)
        sec = F.col(self.ts_col).cast("long")
        gap = sec - F.lag(sec).over(w)
        flagged = df.withColumn(
            "_new", F.when(gap.isNull() | (gap > self.gap_s), 1).otherwise(0)
        )
        sess = flagged.withColumn(
            "_sid", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        ws = Window.partitionBy(self.user_col, "_sid").orderBy(
            self.ts_col, self.id_col
        )
        return (
            sess.select(
                F.col(self.user_col).alias("user_id"),
                F.col(self.type_col).alias("t1"),
                F.lead(self.type_col, 1).over(ws).alias("t2"),
                F.lead(self.type_col, 2).over(ws).alias("t3"),
            )
            .filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
            .groupBy(
                "user_id", F.concat_ws(" > ", "t1", "t2", "t3").alias("path")
            )
            .agg(F.count(F.lit(1)).alias("delta"))
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        tcol, tscol, idcol = self.type_col, self.ts_col, self.id_col
        gap_s, evict = self.gap_s, self.evict_on_watermark

        def step(key, pdf, state):
            pdf = pdf.sort_values([tscol, idcol])
            t2, t1, last_sec = state or (None, None, None)
            tail = [t for t in (t2, t1) if t is not None]
            counts: dict[str, int] = {}
            for t, ts in zip(pdf[tcol], pdf[tscol]):
                sec = int(ts.timestamp())
                if last_sec is not None and sec - last_sec > gap_s:
                    tail = []  # inactivity split: the open session closed
                tail.append(t)
                if len(tail) == 3:
                    p = " > ".join(tail)
                    counts[p] = counts.get(p, 0) + 1
                    tail = tail[1:]
                last_sec = sec
            pad = [None] * (2 - len(tail)) + tail
            return (pad[0], pad[1], last_sec), [
                (key[0], p, n) for p, n in sorted(counts.items())
            ]

        def deadline(state, wm_ms):
            # (last_sec + gap_s + 1) * 1000, NOT (last_sec+gap_s)*1000+1:
            # timestamps are truncated to whole seconds for the split,
            # so an event in the sub-second window [.., +1s) still has
            # sec == last_sec + gap_s and does NOT split in the batch
            # twin (condition is STRICTLY > gap_s) — evicting before
            # the full second has passed would lose its triple.
            return max((state[2] + gap_s + 1) * 1000, wm_ms + 1)

        def on_expire(key, state):
            # Watermark passed last_sec + gap: the remembered tail can
            # never extend a path again (the inactivity split would
            # reset it), so the state is pure memory — drop.
            return None, []

        # Null contract: drop NULL event_type rows entirely (see the
        # batch twin) — they must not touch paths or last_sec.
        src = df.withWatermark(tscol, self.watermark) if evict else df
        return _keyed_fold(
            src.dropna(subset=[tcol]),
            [self.user_col],
            "user_id long, path string, delta long",
            "t2 string, t1 string, last_sec long",
            step,
            expiry=(deadline, on_expire) if evict else None,
        )


@dataclass
class AbMonitorOp:
    """Streaming experiment monitor — the sequential twin of the
    batch ``events_ab_conversion`` readout (plans/llm_ops9): per-user
    state is two booleans (counted-into-arm?, converted?), each
    trigger emits arm-level DELTAS (user joined arm, user converted
    for the first time), and the running per-arm totals downstream
    are exactly the batch hash-split conversion table at every
    trigger boundary — the "watch the z-score move as data arrives"
    surface every experimentation platform serves, with the
    first-conversion-only rule enforced by state (a re-purchasing
    user must not inflate the numerator twice).

    Arm assignment replicates the batch portable hash bit-for-bit
    (first 8 md5 hex chars of 'ab|user_id' mod 2 — functions.text.
    hash32's contract) in pandas, so streamed and batch arms agree by
    construction.

    Batch twin (``__call__`` on a bounded df) computes the per-user
    (arm, converted) table directly.
    """

    name: str
    user_col: str = "user_id"
    type_col: str = "event_type"
    convert_type: str = "purchase"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from distributed_file_system_with_stream_processing_spark.functions import (
            text as T,
        )

        arm = T.hash32(F.concat(F.lit("ab|"), F.col(self.user_col))) % 2
        return (
            df.select(
                F.col(self.user_col).alias("user_id"),
                arm.alias("arm"),
                (F.col(self.type_col) == self.convert_type).cast("int").alias("p"),
            )
            .groupBy("user_id", "arm")
            .agg(F.max("p").cast("long").alias("converted"))
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        import hashlib

        tcol, conv_type = self.type_col, self.convert_type
        out_schema = "user_id long, arm long, d_user long, d_conv long"

        def step(key, pdf, state):
            counted, converted = state or (0, 0)
            d_user = 0 if counted else 1
            batch_conv = int((pdf[tcol] == conv_type).any())
            d_conv = 1 if (batch_conv and not converted) else 0
            rows = []
            if d_user or d_conv:
                arm = (
                    int(hashlib.md5(f"ab|{key[0]}".encode()).hexdigest()[:8], 16) % 2
                )
                rows.append((key[0], arm, d_user, d_conv))
            return (1, max(converted, batch_conv)), rows

        return _keyed_fold(
            df, [self.user_col], out_schema, "counted int, converted int", step
        )


@dataclass
class BenfordMonitorOp:
    """Streaming first-digit monitor — the sequential twin of the
    batch ``events_value_benford`` histogram (plans/llm_ops10):
    per-digit state is one running count; each trigger emits
    (digit, delta) rows whose downstream running sums equal the batch
    digit histogram at every trigger boundary — the always-on
    synthetic-data/fraud canary (watch the distribution bend away
    from Benford as a bad feed lands).

    The digit replicates the batch rule bit-for-bit: the first
    character of the DECIMAL STRING of exact integer cents
    (round(value·100)), never float log10; non-positive cents are
    dropped in both twins.

    Batch twin (``__call__`` on a bounded df) computes the histogram
    directly (digit, n_events).
    """

    name: str
    value_col: str = "value"

    def _digits(self, df: DataFrame) -> DataFrame:
        cents = F.round(F.col(self.value_col) * 100).cast("long")
        return (
            df.select(cents.alias("cents"))
            .filter(F.col("cents") > 0)
            .select(
                F.substring(F.col("cents").cast("string"), 1, 1)
                .cast("long")
                .alias("digit")
            )
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        return (
            self._digits(df)
            .groupBy("digit")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        def step(key, pdf, state):
            (total,) = state or (0,)
            return (total + len(pdf),), [(key[0], len(pdf))]

        return _keyed_fold(
            self._digits(df), ["digit"], "digit long, delta long", "total long", step
        )


@dataclass
class RetentionMatrixOp:
    """Streaming weekly-retention triangle — the incremental twin of
    the batch ``events_retention_matrix`` (plans/llm_ops10): per-user
    state is (cohort_week, seen-offset bitmask) — O(1), one long each
    — and each trigger emits a (cohort_week, week_offset, +1) delta
    the FIRST time a user is active at that offset, so the downstream
    running sums equal the batch triangle at every trigger boundary
    for offsets < 64 (the bitmask width; a year-plus of weekly
    offsets).

    Parity argument: weeks are tz-free integer epoch_sec // 604800 in
    both twins; the cohort is the minimum week the STREAM has seen,
    which equals the batch min when arrivals respect per-user event
    time (the chaining ops' id-ordered contract). Offsets ≥ 64 are
    dropped in the stream and, for parity, in the batch twin too
    (documented cap).

    Batch twin (``__call__``) computes the capped triangle directly.

    ``evict_on_watermark=True`` FREEZES a user's key once the
    watermark passes cohort + ``max_offset`` weeks: every offset the
    bitmask could still record is ≥ the cap and dropped in BOTH twins,
    so the closure is output-neutral, and no further timeout is
    registered for the key. The (cohort, mask) pair itself is kept —
    cohort identity is forever-information (batch cohort = all-time
    min week), so truly removing the state would re-cohort a returning
    user at their comeback week and emit a spurious (new_cohort, 0,
    +1) delta the batch twin never produces. Per-user state is two
    longs: the information-theoretic floor for an exact triangle.
    """

    name: str
    user_col: str = "user_id"
    ts_col: str = "ts"
    max_offset: int = 64
    evict_on_watermark: bool = False
    watermark: str = "10 seconds"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        sec = F.col(self.ts_col).cast("long")
        uw = df.select(
            F.col(self.user_col).alias("user_id"),
            (sec / 604800).cast("long").alias("week"),
        ).distinct()
        cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
        return (
            uw.join(cohort, "user_id")
            .select(
                "cohort_week",
                (F.col("week") - F.col("cohort_week")).alias("week_offset"),
            )
            .filter(F.col("week_offset") < self.max_offset)
            .groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_users"))
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        tscol, cap, evict = self.ts_col, self.max_offset, self.evict_on_watermark

        def step(key, pdf, state):
            weeks = sorted(
                {int(ts.timestamp()) // 604800 for ts in pdf[tscol]}
            )
            cohort, mask = state or (None, 0)
            deltas: list[tuple[int, int, int]] = []
            for wk in weeks:
                if cohort is None:
                    cohort = wk
                off = wk - cohort
                if 0 <= off < cap and not (mask >> off) & 1:
                    mask |= 1 << off
                    deltas.append((cohort, off, 1))
            return (cohort, mask), deltas

        def deadline(state, wm_ms):
            # Register the closure timeout only while the window is
            # still open — once the watermark passed cohort + cap the
            # key is frozen (see on_expire) and a re-registered timeout
            # would just re-fire every trigger.
            close_ms = (state[0] + cap) * 604800 * 1000
            return close_ms if close_ms > wm_ms else None

        def on_expire(key, state):
            # Watermark passed cohort + cap weeks: the window is CLOSED
            # — no future offset can land under the cap. The cohort
            # itself must be KEPT, not removed: a returning user with
            # no state would be re-cohorted at their new week and emit
            # a spurious (new_cohort, 0, +1) delta the batch twin
            # (cohort = all-time min week) never produces. Freeze: keep
            # (cohort, mask), register no new timeout.
            return state, []

        src = df.withWatermark(tscol, self.watermark) if evict else df
        return _keyed_fold(
            src,
            [self.user_col],
            "cohort_week long, week_offset long, delta long",
            "cohort_week long, mask long",
            step,
            expiry=(deadline, on_expire) if evict else None,
        )


@dataclass
class PrefixDupGateOp:
    """Streaming prefix-dup gate — the ingest-side twin of the batch
    ``docs_prefix_dup_rate`` screen (plans/llm_ops10): keyed by the
    32-char normalized prefix, per-key state is one seen-count; each
    arriving doc emits (doc_id, prefix_seen_before) so the pipeline
    can divert boilerplate-prefixed docs at ingest instead of
    re-scanning the corpus. First-arrival-wins: with per-key ids
    arriving non-decreasing (the substring_indexed_stream contract)
    the kept set equals the batch min-doc_id-per-prefix rule.

    Batch twin (``__call__``) marks every doc whose prefix has a
    lower doc_id occurrence (keep = rank 1 in (prefix, doc_id)
    order).
    """

    name: str
    id_col: str = "doc_id"
    text_col: str = "text"
    prefix_len: int = 32

    def _pfx(self) -> Column:
        return F.substring(
            F.lower(F.trim(F.regexp_replace(F.col(self.text_col), r"\s+", " "))),
            1,
            self.prefix_len,
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        w = Window.partitionBy("pfx").orderBy(self.id_col)
        return (
            df.select(F.col(self.id_col).alias("doc_id"), self._pfx().alias("pfx"))
            .withColumn("keep", F.row_number().over(w) == 1)
            .select("doc_id", "keep")
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        idc = self.id_col

        def step(key, pdf, state):
            (seen,) = state or (0,)
            rows = []
            for did in pdf.sort_values(idc)[idc]:
                rows.append((int(did), seen == 0))
                seen += 1
            return (seen,), rows

        keyed = df.select(F.col(idc), self._pfx().alias("pfx"))
        return _keyed_fold(
            keyed, ["pfx"], "doc_id long, keep boolean", "seen long", step
        )


@dataclass
class SessionDepthOp:
    """Streaming session-depth histogram — the incremental twin of
    the batch ``events_session_depth_histogram`` (plans/llm_ops15):
    per-user state is (last event second, open-session depth) — O(1)
    — and a (depth, +1) delta is emitted whenever a session CLOSES
    (the next event arrives past the 30-min gap). The open session's
    depth lives in state until its closing event arrives, so the
    streamed histogram equals the batch one restricted to CLOSED
    sessions — the parity test closes every session with a late
    sentinel event and then demands exact equality.

    Batch twin (``__call__``) runs the sessionize backbone and
    reports ALL sessions (open tails included), matching the
    registered batch query.

    ``close_on_watermark=True`` upgrades the stream to FULL batch
    parity: the op sets an event-time timeout at (last event +
    gap) per user, so an idle session's closure delta is emitted as
    soon as the WATERMARK proves no in-gap event can still arrive —
    no sentinel event needed, state strictly bounded by the watermark
    horizon. Under the watermark contract the split decisions are
    identical to the batch twin's: any event that would have extended
    a timed-out session is by definition later than watermark =
    last_sec + gap, hence outside the lateness bound in both worlds.
    """

    name: str
    user_col: str = "user_id"
    ts_col: str = "ts"
    id_col: str = "event_id"
    gap_s: int = 1800
    cap: int = 20
    close_on_watermark: bool = False
    watermark: str = "10 seconds"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        sec = F.col(self.ts_col).cast("long")
        w = Window.partitionBy(self.user_col).orderBy(F.asc("_s"), F.asc(self.id_col))
        flagged = df.select(
            self.user_col, self.id_col, sec.alias("_s")
        ).withColumn(
            "_new",
            F.when(
                (F.col("_s") - F.lag("_s").over(w)).isNull()
                | ((F.col("_s") - F.lag("_s").over(w)) > self.gap_s),
                1,
            ).otherwise(0),
        )
        sess = flagged.withColumn(
            "_sid", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        depth = sess.groupBy(self.user_col, "_sid").agg(
            F.count(F.lit(1)).alias("d")
        )
        return (
            depth.select(
                F.least(F.col("d"), F.lit(self.cap)).cast("long").alias("depth")
            )
            .groupBy("depth")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        tscol, idcol, gap_s, cap = self.ts_col, self.id_col, self.gap_s, self.cap
        close = self.close_on_watermark

        def step(key, pdf, state):
            pdf = pdf.sort_values([tscol, idcol])
            last_sec, depth = state or (None, 0)
            closed: dict[int, int] = {}
            for ts in pdf[tscol]:
                sec = int(ts.timestamp())
                if last_sec is not None and sec - last_sec > gap_s:
                    d = min(depth, cap)
                    closed[d] = closed.get(d, 0) + 1
                    depth = 0
                depth += 1
                last_sec = sec
            return (last_sec, depth), sorted(closed.items())

        def deadline(state, wm_ms):
            # Never set a timeout at/under the current watermark (Spark
            # rejects it); clamping forward only hastens an already-due
            # closure to the next trigger.
            # (last_sec + gap_s + 1) * 1000, NOT (last_sec+gap_s)*1000+1:
            # the split truncates timestamps to whole seconds, so an
            # event in the sub-second window [.., +1s) has
            # sec == last_sec + gap_s and EXTENDS the session in the
            # batch twin (split is strictly > gap_s) — closing before
            # the full second has passed would count the session short.
            return max((state[0] + gap_s + 1) * 1000, wm_ms + 1)

        def on_expire(key, state):
            # The watermark passed last_sec + gap: no in-gap event can
            # still arrive, so the open session is CLOSED.
            _, depth = state
            return None, [(min(depth, cap), 1)]

        src = df.withWatermark(tscol, self.watermark) if close else df
        return _keyed_fold(
            src,
            [self.user_col],
            "depth long, delta long",
            "last_sec long, depth long",
            step,
            expiry=(deadline, on_expire) if close else None,
        )


@dataclass
class ReconcileOp:
    """Streaming header-vs-detail reconciliation — the incremental
    twin of the batch ``orders_reconciliation_audit`` classification
    (plans/llm_ops16): records arrive as a single interleaved stream
    of order HEADERS (kind='H', carrying priority + header cents) and
    LINE groups (kind='L', carrying line cents), in ANY order —
    lines may precede their header. Per-order state is
    (has_hdr, priority, hdr_cents, Σline_cents, n_lines) plus the
    last emitted (priority, class); each trigger re-classifies the
    order and emits RETRACTION deltas — (old_pri, old_cls, −1),
    (new_pri, new_cls, +1) — so the downstream running sum per
    (priority, class) equals the batch classification table at EVERY
    trigger boundary, including the transient states (a header-less
    line group counts as ORPHAN under the sentinel priority until its
    header lands, then moves to its real bucket).

    Classes: EMPTY (header, no lines), MATCHED (|Δ| ≤ tol cents),
    MISMATCHED, ORPHAN (lines, no header). This is the streaming
    analogue of the reference's merge-time replica audit
    (synchronizer.go:75-139 collects per-replica appends and
    reconciles them into one agreed order) applied across two tables
    of the same logical entity.

    Batch twin (``__call__``) computes the same (priority, class)
    counts directly from a bounded df of the same record shape.
    Duplicate headers resolve identically on both sides: independent
    MAX over priority and over cents (the batch F.max aggregates; the
    streaming fold takes the max over micro-batch ∪ carried state), so
    the twins agree for any arrival order and trigger split.

    State lifetime is deliberately FOREVER (NoTimeout): the batch twin
    classifies over ALL records ever seen, and a header or late line
    group may arrive arbitrarily long after its counterpart — evicting
    an order's state would mis-classify that arrival as a fresh
    ORPHAN/EMPTY instead of moving the order between buckets, breaking
    delta parity. Total state therefore grows with the all-time order
    count at O(1) per order (seven scalars); deployments with a real
    retention bound should window the stream upstream (the
    RetentionMatrixOp freeze pattern) rather than time out state here.
    """

    name: str
    tol_cents: int = 1

    _ORPHAN_PRI = "ORPHAN_LINEITEM"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        is_h = F.col("kind") == "H"
        per = df.groupBy("order_key").agg(
            F.max(is_h.cast("int")).alias("has_hdr"),
            F.max(F.when(is_h, F.col("priority"))).alias("pri"),
            F.max(F.when(is_h, F.col("cents"))).alias("hdr_c"),
            F.coalesce(F.sum(F.when(~is_h, F.col("cents"))), F.lit(0)).alias("li_c"),
            F.sum((~is_h).cast("int")).alias("n_lines"),
        )
        cls = (
            F.when((F.col("has_hdr") == 1) & (F.col("n_lines") == 0), F.lit("EMPTY"))
            .when(
                (F.col("has_hdr") == 1)
                & (F.abs(F.col("hdr_c") - F.col("li_c")) <= self.tol_cents),
                F.lit("MATCHED"),
            )
            .when(F.col("has_hdr") == 1, F.lit("MISMATCHED"))
            .otherwise(F.lit("ORPHAN"))
        )
        pri = F.when(F.col("has_hdr") == 1, F.col("pri")).otherwise(
            F.lit(self._ORPHAN_PRI)
        )
        return (
            per.select(pri.alias("priority"), cls.alias("cls"))
            .groupBy("priority", "cls")
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        tol, orphan_pri = self.tol_cents, self._ORPHAN_PRI

        def step(key, pdf, state):
            has_hdr, pri, hdr_c, li_c, n_lines, prev_pri, prev_cls = state or (
                0, None, 0, 0, 0, None, None,
            )
            hs = pdf[pdf["kind"] == "H"]
            if len(hs):
                # duplicate headers resolve exactly like the batch
                # twin's independent F.max(priority) / F.max(cents)
                # aggregates — fold max over the micro-batch AND the
                # carried state, so the twins agree for any arrival
                # order and trigger split (ADVICE r6)
                h_pri = str(hs["priority"].max())
                h_c = int(hs["cents"].max())
                pri = h_pri if not has_hdr else max(pri, h_pri)
                hdr_c = h_c if not has_hdr else max(hdr_c, h_c)
                has_hdr = 1
            ls = pdf[pdf["kind"] == "L"]
            if len(ls):
                li_c += int(ls["cents"].sum())
                n_lines += len(ls)
            if has_hdr and n_lines == 0:
                cls = "EMPTY"
            elif has_hdr:
                cls = "MATCHED" if abs(hdr_c - li_c) <= tol else "MISMATCHED"
            else:
                cls = "ORPHAN"
            out_pri = pri if has_hdr else orphan_pri
            rows = []
            if (prev_pri, prev_cls) != (out_pri, cls):
                if prev_cls is not None:
                    rows.append((prev_pri, prev_cls, -1))
                rows.append((out_pri, cls, 1))
            return (has_hdr, pri, hdr_c, li_c, n_lines, out_pri, cls), rows

        return _keyed_fold(
            df,
            ["order_key"],
            "priority string, cls string, delta long",
            "has_hdr int, pri string, hdr_c long, li_c long, n_lines long, "
            "prev_pri string, prev_cls string",
            step,
        )


@dataclass
class CusumMonitorOp:
    """Streaming one-sided CUSUM monitor against a FIXED target — the
    sequential twin of the batch ``events_cusum_drift`` scan
    (plans/llm_ops18), with the reference mean supplied as
    ``target_cents`` (a true streaming monitor cannot know the global
    mean up front; production sets the target from a trailing batch
    fit). Per-type state is four longs: running prefix sum P, its
    running min (clamped ≤0), the best excursion S = P − min so far
    and WHEN it peaked. Each trigger emits the current
    (n_events, max_cusum_c, peak_epoch_s) snapshot per type, so the
    LATEST emission equals the batch scan at every trigger boundary.

    In-order contract: rows must arrive in (sec, event_id) order
    ACROSS triggers (per-type event-time order — the standard
    sequential-monitor assumption; within a micro-batch the op sorts).
    Ties at the peak break by earliest (sec, event_id), matching the
    batch twin's row_number pick.

    Batch twin (``__call__``): the same prefix-scan computed with
    window functions over a bounded df.
    """

    name: str
    target_cents: int
    value_col: str = "value"

    _OUT = "event_type string, n_events long, max_cusum_c long, peak_epoch_s long"

    def _base(self, df: DataFrame) -> DataFrame:
        cents = F.round(F.col(self.value_col) * 100).cast("long")
        return df.select(
            "event_type",
            (cents - F.lit(self.target_cents)).alias("dev"),
            F.col("ts").cast("long").alias("sec"),
            "event_id",
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        base = self._base(df)
        w = Window.partitionBy("event_type").orderBy("sec", "event_id")
        cum = base.select(
            "event_type",
            "sec",
            "event_id",
            F.sum("dev").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("p"),
        )
        run_min = F.min(F.least(F.col("p"), F.lit(0).cast("long"))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        s = cum.select(
            "event_type", "sec", "event_id", (F.col("p") - run_min).alias("s")
        )
        pick = Window.partitionBy("event_type").orderBy(
            F.col("s").desc(), F.col("sec").asc(), F.col("event_id").asc()
        )
        n = F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        return (
            s.select(
                "event_type",
                n.alias("n_events"),
                "s",
                "sec",
                F.row_number().over(pick).alias("rn"),
            )
            .filter(F.col("rn") == 1)
            .select(
                "event_type",
                F.col("n_events").cast("long"),
                F.col("s").cast("long").alias("max_cusum_c"),
                F.col("sec").cast("long").alias("peak_epoch_s"),
            )
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        def step(key, pdf, state):
            pdf = pdf.sort_values(["sec", "event_id"])
            p, mn, best_s, best_sec, n = state or (0, 0, -1, -1, 0)
            for dev, sec in zip(pdf["dev"], pdf["sec"]):
                p += int(dev)
                mn = min(mn, p)  # mn starts clamped at 0
                s = p - mn
                n += 1
                if s > best_s:
                    best_s, best_sec = s, int(sec)
            return (p, mn, best_s, best_sec, n), [(key[0], n, best_s, best_sec)]

        return _keyed_fold(
            self._base(df),
            ["event_type"],
            self._OUT,
            "p long, mn long, best_s long, best_sec long, n long",
            step,
        )


@dataclass
class TailTopKOp:
    """Streaming per-type top-k value tracker — the tail backbone the
    batch ``events_hill_tail_index`` estimator ranks over, maintained
    incrementally: per-type state is the k largest (cents, event_id)
    pairs seen so far (two parallel arrays, O(k)/type). Each trigger
    re-emits the type's CURRENT top-k as (rank, cents, event_id)
    rows, so the latest emission equals the batch rank window for ANY
    arrival order and trigger split (a top-k set is order-free —
    unlike the CUSUM op, no in-order contract needed). Order ties
    break by (cents desc, event_id asc), matching the batch window.

    Batch twin (``__call__``): the rank-window top-k on a bounded df.
    """

    name: str
    k: int = 10
    value_col: str = "value"

    _OUT = (
        "event_type string, n_seen long, rank long, cents long, event_id long"
    )

    def _base(self, df: DataFrame) -> DataFrame:
        cents = F.round(F.col(self.value_col) * 100).cast("long")
        return df.select("event_type", cents.alias("cents"), "event_id")

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        w = Window.partitionBy("event_type").orderBy(
            F.col("cents").desc(), F.col("event_id").asc()
        )
        n_seen = F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        return (
            self._base(df)
            .select(
                "event_type",
                n_seen.cast("long").alias("n_seen"),
                F.row_number().over(w).cast("long").alias("rank"),
                "cents",
                "event_id",
            )
            .filter(F.col("rank") <= self.k)
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        k = self.k

        def step(key, pdf, state):
            if state:
                cs, ids, n = state
                cur = list(zip(list(cs), list(ids)))
            else:
                cur, n = [], 0
            cur.extend(zip((int(c) for c in pdf["cents"]),
                           (int(i) for i in pdf["event_id"])))
            n += len(pdf)
            cur.sort(key=lambda t: (-t[0], t[1]))
            cur = cur[:k]
            return (
                ([c for c, _ in cur], [i for _, i in cur], n),
                [(key[0], n, r + 1, c, i) for r, (c, i) in enumerate(cur)],
            )

        return _keyed_fold(
            self._base(df),
            ["event_type"],
            self._OUT,
            "cs array<long>, ids array<long>, n long",
            step,
        )


def _attribution_fold(
    df: DataFrame, out_schema: str, win: int, ptype: str, credit: Callable
) -> DataFrame:
    """The attribution ops' shared per-user fold. State is the user's
    in-window events (three parallel arrays — sec, id, type — pruned
    to the newest event's horizon). Each purchase books
    ``credit(cand)``, a list of (attributed_type, amount) pairs over
    its in-window prior events ``cand``, into the trigger's deltas."""

    def step(key, pdf, state):
        pdf = pdf.sort_values(["sec", "event_id"])
        window = list(zip(*state)) if state else []
        counts: dict[str, int] = {}
        for sec, eid, etype in zip(
            (int(x) for x in pdf["sec"]),
            (int(x) for x in pdf["event_id"]),
            pdf["event_type"],
        ):
            if etype == ptype:
                cand = [
                    (s, i, t)
                    for (s, i, t) in window
                    if s >= sec - win and (s < sec or (s == sec and i < eid))
                ]
                for att, amount in credit(cand):
                    counts[att] = counts.get(att, 0) + amount
            window.append((sec, eid, etype))
            horizon = sec - win
            window = [w for w in window if w[0] >= horizon]
        new_state = (
            [s for s, _, _ in window],
            [i for _, i, _ in window],
            [t for _, _, t in window],
        )
        return new_state, sorted(counts.items())

    # selectExpr (no client-side Column construction) keeps the fold
    # extractable by the session-free property harness
    base = df.selectExpr(
        "user_id", "event_type", "cast(ts as long) as sec", "event_id"
    )
    return _keyed_fold(
        base,
        ["user_id"],
        out_schema,
        "secs array<long>, ids array<long>, types array<string>",
        step,
    )


@dataclass
class FirstTouchOp:
    """Streaming first-touch attribution — the incremental twin of the
    batch ``events_first_touch_attribution`` range join
    (plans/llm_ops18): each arriving purchase is credited to the
    EARLIEST event the user emitted in the preceding 24 h window
    (ties by event_id; nothing prior → 'direct'), emitted as an
    (attributed_type, +1) delta, so downstream running sums equal the
    batch attribution counts at every trigger boundary.

    Per-user state is the 24 h event window (three parallel arrays —
    sec, id, type — pruned to the newest event's horizon), O(user's
    24 h activity). In-order contract: per-user rows arrive in
    (sec, event_id) order ACROSS triggers (within a trigger the op
    sorts) — the same event-time-ordered ingestion the transition and
    CUSUM ops document.

    Batch twin (``__call__``): the registered query's join/window
    logic on a bounded df, minus the share column (deltas are counts).
    """

    name: str
    window_s: int = 24 * 3600
    purchase_type: str = "purchase"

    _OUT = "attributed_type string, delta long"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        ev = df.select("user_id", "event_type", F.col("ts").cast("long").alias("sec"), "event_id")
        purch = ev.filter(F.col("event_type") == self.purchase_type).select(
            "user_id", F.col("sec").alias("p_sec"), F.col("event_id").alias("p_id")
        )
        prior = ev.select(
            "user_id",
            F.col("event_type").alias("t_type"),
            F.col("sec").alias("t_sec"),
            F.col("event_id").alias("t_id"),
        )
        j = purch.join(
            prior,
            (purch.user_id == prior.user_id)
            & (prior.t_sec >= purch.p_sec - self.window_s)
            & (
                (prior.t_sec < purch.p_sec)
                | ((prior.t_sec == purch.p_sec) & (prior.t_id < purch.p_id))
            ),
            "left",
        ).drop(prior.user_id)
        w = Window.partitionBy("user_id", "p_id").orderBy(
            F.col("t_sec").asc(), F.col("t_id").asc()
        )
        first = j.select(
            "t_type", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") == 1)
        return (
            first.select(
                F.coalesce("t_type", F.lit("direct")).alias("attributed_type")
            )
            .groupBy("attributed_type")
            .agg(F.count(F.lit(1)).alias("delta"))
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        return _attribution_fold(
            df,
            self._OUT,
            self.window_s,
            self.purchase_type,
            lambda cand: [(min(cand)[2] if cand else "direct", 1)],
        )


@dataclass
class ErrorBurstOp:
    """Streaming run-length tracker for consecutive error events — the
    incremental twin of the batch ``events_error_burst_lengths``
    gaps-and-islands histogram (plans/llm_ops21): per-user state is
    ONE long (the currently-open error-run length); a non-error
    arrival CLOSES the run and emits its (run_len, +1) delta, so the
    summed deltas equal the batch histogram over CLOSED runs at every
    trigger boundary. A trailing run still open at the stream's edge
    lives in state until the user's next non-error arrives — the one
    place the twins legitimately differ mid-stream (the batch twin
    counts a corpus-final error run; the stream hasn't seen its end).
    In-order contract as the other sequence ops (per-user (sec, id)
    order across triggers; sorted within a trigger).

    Batch twin (``__call__``): the rank-difference islands plan.
    """

    name: str
    error_type: str = "error"

    _OUT = "run_len long, delta long"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        sec = F.col("ts").cast("long")
        wu = Window.partitionBy("user_id").orderBy("sec", "event_id")
        base = df.select(
            "user_id", "event_type", sec.alias("sec"), "event_id"
        ).withColumn("rn", F.row_number().over(wu))
        err = base.filter(F.col("event_type") == self.error_type)
        we = Window.partitionBy("user_id").orderBy("rn")
        runs = err.withColumn("grp", F.col("rn") - F.row_number().over(we))
        lens = runs.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("run_len"))
        return lens.groupBy(F.col("run_len").cast("long").alias("run_len")).agg(
            F.count(F.lit(1)).alias("delta")
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        etype = self.error_type

        def step(key, pdf, state):
            open_len = state[0] if state else 0
            counts: dict[int, int] = {}
            for t in pdf.sort_values(["sec", "event_id"])["event_type"]:
                if t == etype:
                    open_len += 1
                elif open_len > 0:
                    counts[open_len] = counts.get(open_len, 0) + 1
                    open_len = 0
            return (open_len,), sorted(counts.items())

        base = df.selectExpr(
            "user_id", "event_type", "cast(ts as long) as sec", "event_id"
        )
        return _keyed_fold(base, ["user_id"], self._OUT, "open_len long", step)


# -- the reference test-op library (user/tests.go test_mp4 t1/t2) ---------


def filter_contains(column: str, pattern: str, project: list[str]) -> TransformOp:
    """op1_t1 shape: keep rows whose ``column`` contains ``pattern``,
    project selected columns."""
    return TransformOp(
        name=f"filter_contains({column},{pattern!r})",
        apply=lambda df: df.filter(F.col(column).contains(pattern)).select(*project),
    )


def filter_equals(column: str, value) -> TransformOp:
    """op1_t2 shape: keep rows where ``column == value``."""
    return TransformOp(
        name=f"filter_equals({column},{value!r})",
        apply=lambda df: df.filter(F.col(column) == F.lit(value)),
    )


def identity() -> TransformOp:
    return TransformOp(name="identity", apply=lambda df: df)


def count_by(*key_columns: str) -> AggregateOp:
    """op2_t2 shape: running count per category."""
    return AggregateOp(name=f"count_by({','.join(key_columns)})", keys=list(key_columns))


def python_transform(
    name: str,
    fn: Callable,
    schema: str,
) -> TransformOp:
    """Custom Python row logic as an Arrow-batched mapInPandas op.

    ``fn(pdf: pandas.DataFrame) -> pandas.DataFrame`` runs per Arrow
    batch (not per row, never per 5-line micro-batch like the
    reference's exec model).
    """

    def apply(df: DataFrame) -> DataFrame:
        def gen(batches: Iterator) -> Iterator:
            for pdf in batches:
                out = fn(pdf)
                if out is not None and len(out):
                    yield out

        return df.mapInPandas(gen, schema=schema)

    return TransformOp(name=name, apply=apply)


@dataclass
class RunningTopKOp:
    """Per-key running top-k of a value column — a keyed-fold twin of
    the reference leader's in-memory running aggregates
    (rainstorm.go:551-575), but keeping an ORDERED structure the
    groupBy/agg path can't express incrementally: state is the k best
    values ever seen per key (one ``array<double>``), emitted afresh
    on every trigger.

    State is O(k) per key — bounded regardless of stream length, the
    100 TB requirement for unbounded-stream operators.

    Batch twin (``__call__``): plain window rank — identical output on
    a bounded input.
    """

    key: str
    value_col: str
    k: int = 3

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        w = Window.partitionBy(self.key).orderBy(F.desc(self.value_col))
        return (
            df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select(
                F.col(self.key).alias("key"),
                F.col("rank").cast("int"),
                F.col(self.value_col).cast("double").alias("value"),
            )
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        vcol, k = self.value_col, self.k

        def step(key, pdf, state):
            vals = [float(v) for v in pdf[vcol]] + (list(state[0]) if state else [])
            top = sorted(vals, reverse=True)[:k]
            return (top,), [(key[0], r + 1, v) for r, v in enumerate(top)]

        # append: each trigger's emission is a new generation of the
        # top-k log, so append-mode sinks (e.g. file sinks) accept it
        return _keyed_fold(
            df,
            [self.key],
            "key string, rank int, value double",
            "vs array<double>",
            step,
            "append",
        )


@dataclass
class LastTouchOp:
    """Streaming LAST-touch attribution — the complement of
    ``FirstTouchOp`` (the r7 attribution family): each arriving
    purchase is credited to the LATEST event the user emitted in the
    preceding ``window_s`` horizon (ties by highest event_id; nothing
    prior → 'direct'), emitted as an (attributed_type, +1) delta.
    Summed deltas equal the batch twin's counts at every trigger
    boundary.

    Same O(user's in-window activity) state and in-order contract as
    FirstTouchOp (per-user (sec, event_id) order across triggers;
    sorted within a trigger).
    """

    name: str
    window_s: int = 24 * 3600
    purchase_type: str = "purchase"

    _OUT = "attributed_type string, delta long"

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        ev = df.select(
            "user_id", "event_type", F.col("ts").cast("long").alias("sec"), "event_id"
        )
        purch = ev.filter(F.col("event_type") == self.purchase_type).select(
            "user_id", F.col("sec").alias("p_sec"), F.col("event_id").alias("p_id")
        )
        prior = ev.select(
            "user_id",
            F.col("event_type").alias("t_type"),
            F.col("sec").alias("t_sec"),
            F.col("event_id").alias("t_id"),
        )
        j = purch.join(
            prior,
            (purch.user_id == prior.user_id)
            & (prior.t_sec >= purch.p_sec - self.window_s)
            & (
                (prior.t_sec < purch.p_sec)
                | ((prior.t_sec == purch.p_sec) & (prior.t_id < purch.p_id))
            ),
            "left",
        ).drop(prior.user_id)
        w = Window.partitionBy("user_id", "p_id").orderBy(
            F.col("t_sec").desc(), F.col("t_id").desc()
        )
        last = j.select("t_type", F.row_number().over(w).alias("rn")).filter(
            F.col("rn") == 1
        )
        return (
            last.select(
                F.coalesce("t_type", F.lit("direct")).alias("attributed_type")
            )
            .groupBy("attributed_type")
            .agg(F.count(F.lit(1)).alias("delta"))
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        return _attribution_fold(
            df,
            self._OUT,
            self.window_s,
            self.purchase_type,
            lambda cand: [(max(cand)[2] if cand else "direct", 1)],
        )


@dataclass
class LinearAttributionOp:
    """Streaming LINEAR (equal-split) attribution: each arriving
    purchase splits exactly 1,000,000 micro-credits across EVERY event
    the user emitted in the preceding ``window_s`` horizon — each
    candidate gets ⌊10⁶/n⌋ and the EARLIEST candidate also takes the
    remainder, so per-purchase credit is conserved EXACTLY in integer
    arithmetic (the repo's micro-quantization stance: order-free
    integer sums, no float fold anywhere). No candidates → 'direct'
    takes the full 10⁶. Summed (attributed_type, delta_micro) deltas
    equal the batch twin at every trigger boundary, and their grand
    total is 10⁶ × #purchases — the conservation invariant the tests
    pin.

    Same state and in-order contract as FirstTouchOp/LastTouchOp.
    """

    name: str
    window_s: int = 24 * 3600
    purchase_type: str = "purchase"

    _OUT = "attributed_type string, delta_micro long"
    _MICRO = 1_000_000

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        ev = df.select(
            "user_id", "event_type", F.col("ts").cast("long").alias("sec"), "event_id"
        )
        purch = ev.filter(F.col("event_type") == self.purchase_type).select(
            "user_id", F.col("sec").alias("p_sec"), F.col("event_id").alias("p_id")
        )
        prior = ev.select(
            "user_id",
            F.col("event_type").alias("t_type"),
            F.col("sec").alias("t_sec"),
            F.col("event_id").alias("t_id"),
        )
        j = purch.join(
            prior,
            (purch.user_id == prior.user_id)
            & (prior.t_sec >= purch.p_sec - self.window_s)
            & (
                (prior.t_sec < purch.p_sec)
                | ((prior.t_sec == purch.p_sec) & (prior.t_id < purch.p_id))
            ),
            "left",
        ).drop(prior.user_id)
        wp = Window.partitionBy("user_id", "p_id")
        wr = wp.orderBy(F.col("t_sec").asc(), F.col("t_id").asc())
        base = F.floor(F.lit(self._MICRO) / F.col("n")).cast("long")
        rem = F.lit(self._MICRO) - base * F.col("n")
        credited = (
            j.withColumn("n", F.count("t_type").over(wp))
            .withColumn("rn", F.row_number().over(wr))
            .withColumn(
                "credit",
                F.when(F.col("t_type").isNull(), F.lit(self._MICRO).cast("long"))
                .when(F.col("rn") == 1, base + rem)
                .otherwise(base),
            )
        )
        return (
            credited.select(
                F.coalesce("t_type", F.lit("direct")).alias("attributed_type"),
                "credit",
            )
            .groupBy("attributed_type")
            .agg(F.sum("credit").alias("delta_micro"))
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        micro = self._MICRO

        def credit(cand):
            if not cand:
                return [("direct", micro)]
            base, rem = divmod(micro, len(cand))
            return [
                (t, base + (rem if j == 0 else 0))
                for j, (_, _, t) in enumerate(sorted(cand))
            ]

        return _attribution_fold(
            df, self._OUT, self.window_s, self.purchase_type, credit
        )


@dataclass
class VocabGrowthOp:
    """Streaming VOCABULARY-GROWTH monitor — the ingest-side face of
    the r7/r8 Heaps-law family (``docs_heaps_curve`` /
    ``docs_heaps_exponent_by_source``): keyed by (source, token),
    per-key state is one seen flag; each micro-batch emits one
    (source, token, token_delta, new_type_delta) row per touched key,
    where ``new_type_delta`` is 1 exactly when the key was first seen
    in THIS batch. Summing deltas per source therefore reproduces the
    batch census (Σ token_delta = total token occurrences,
    Σ new_type_delta = |vocabulary|) at every trigger boundary — the
    running (N, V) pair a Heaps fit or an OOV budget reads live while
    a corpus is being ingested.

    State is VOCAB-bounded (one tombstone per distinct (source,
    token)), not corpus-bounded — the same table any batch engine
    keeps to answer "how many types so far", kept incrementally. At
    100 TB the key space is the per-source vocabulary: high
    cardinality (good shuffle spread), slowly-growing state.

    Batch twin (``__call__``): per source, exact
    (n_tokens, n_types) via one explode + two-level aggregation —
    order-free integers, so stream ≡ batch exactly.
    """

    name: str
    source_col: str = "source"
    text_col: str = "text"

    _OUT = "source string, token string, token_delta long, new_type_delta long"

    def _toks(self, df: DataFrame) -> DataFrame:
        from distributed_file_system_with_stream_processing_spark.functions import (
            text as T,
        )

        return (
            df.select(
                F.col(self.source_col).alias("source"),
                F.explode_outer(T.words(F.col(self.text_col))).alias("w"),
            )
            .filter(F.col("w").isNotNull())
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        per = self._toks(df).groupBy("source", "w").agg(
            F.count(F.lit(1)).alias("c")
        )
        return per.groupBy("source").agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        def step(key, pdf, state):
            src, tok = key
            return (True,), [(src, tok, len(pdf), 0 if state else 1)]

        return _keyed_fold(
            self._toks(df), ["source", "w"], self._OUT, "seen boolean", step
        )


@dataclass
class DecontamGateOp:
    """Streaming DECONTAMINATION monitor — the ingest-side face of the
    registered ``decontaminate_ngram`` hygiene pass (plans/llm_ops.py):
    every arriving document is flagged contaminated iff ≥1 of its
    distinct word ``n``-gram shingles appears in the benchmark
    ``blocklist``; keyed by source, per-key state is the running
    (docs, contaminated) pair, and each micro-batch emits ONE row per
    touched source carrying both the batch DELTAS and the RUNNING
    totals. Σ deltas per source equals the batch census at every
    trigger boundary, and the final totals ARE the batch twin's row —
    the live dashboard a data-mixing owner watches while a crawl is
    being ingested (a source whose contamination rate spikes is
    scraping the benchmark).

    The blocklist is benchmark-scale metadata (the eval set's distinct
    shingles — MBs at worst), carried as parsed array literals exactly
    like the centroid/plane literal stance; the per-doc flag is a pure
    map (arrays_overlap against the literal — no shuffle, no state
    proportional to the corpus). State is |sources|-bounded: two longs
    per source. The corpus-side batch recipe (broadcast semi-join of
    exploded shingles, doc-level hit counts) remains
    ``decontaminate_ngram``; this op answers the per-source RATE
    question incrementally.

    Batch twin (``__call__``): per-source exact
    (n_docs, n_contaminated) census over the same per-doc flag —
    order-free integer sums, so stream ≡ batch exactly.
    """

    name: str
    blocklist: tuple[str, ...] = ()
    n: int = 3
    source_col: str = "source"
    text_col: str = "text"

    _OUT = (
        "source string, docs_delta long, contaminated_delta long, "
        "docs_total long, contaminated_total long"
    )

    def _flags(self, df: DataFrame) -> DataFrame:
        from distributed_file_system_with_stream_processing_spark.functions import (
            text as T,
        )

        if self.blocklist:
            block = F.array(*[F.lit(s) for s in self.blocklist])
            bad = F.arrays_overlap(
                T.shingles(F.col(self.text_col), self.n), block
            )
        else:
            bad = F.lit(False)
        return df.select(
            F.col(self.source_col).alias("source"),
            F.coalesce(bad, F.lit(False)).cast("long").alias("bad"),
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        return self._flags(df).groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("bad").cast("long").alias("n_contaminated"),
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        def step(key, pdf, state):
            docs, bad = len(pdf), int(pdf["bad"].sum())
            t_docs, t_bad = state or (0, 0)
            t_docs += docs
            t_bad += bad
            return (t_docs, t_bad), [(key[0], docs, bad, t_docs, t_bad)]

        return _keyed_fold(
            self._flags(df), ["source"], self._OUT, "docs long, bad long", step
        )


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — Python-side twin of
    Spark SQL's ``div`` on BIGINT (Python's ``//`` floors, which
    diverges on negative operands)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


@dataclass
class InterarrivalStatsOp:
    """Streaming INTER-ARRIVAL monitor — the ingest-side face of the
    registered ``events_interarrival_stats`` cadence table
    (plans/llm_ops5): keyed by (user_id, event_type), per-key state is
    (last-seen (sec, event_id), running gap count/sum/min/max); each
    trigger emits the running per-key gap census, so the LATEST
    emission per key equals the batch lag-window aggregate at every
    trigger boundary — including the gap that SPANS a trigger
    boundary, the case a per-batch (stateless) lag would drop.

    Gaps are EXACT integer seconds (floor-per-side epoch truncation,
    the events_asof_forward convention), and count/sum/min/max are
    order-free integer folds, so stream ≡ batch bit-for-bit under the
    same in-order contract as CusumMonitorOp (per-key event-time order
    across triggers; within a micro-batch the op sorts).

    State is |active (user, type)|-bounded: six longs per key — the
    high-cardinality / tiny-state shape that spreads across a 1000-
    executor state store. Downstream per-type cadence (mean/percentile)
    is a |keys|-scale rollup of the emitted census.

    Batch twin (``__call__``): the same census via one lag window on
    the (user_id, event_type) key — the sessionize backbone's shuffle.
    """

    name: str

    _OUT = (
        "user_id long, event_type string, n_gaps long, gap_sum_s long, "
        "gap_min_s long, gap_max_s long"
    )

    def _base(self, df: DataFrame) -> DataFrame:
        # NULL ts drops in BOTH paths (int(NaN) poisons the stream
        # fold; the batch lag over NULL yields NULL gaps anyway)
        return df.filter(F.col("ts").isNotNull()).select(
            "user_id",
            "event_type",
            F.unix_timestamp("ts").alias("sec"),
            "event_id",
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id", "event_type").orderBy("sec", "event_id")
        gaps = self._base(df).select(
            "user_id",
            "event_type",
            (F.col("sec") - F.lag("sec").over(w)).alias("gap_s"),
        )
        return gaps.groupBy("user_id", "event_type").agg(
            F.count("gap_s").alias("n_gaps"),
            F.coalesce(F.sum("gap_s"), F.lit(0)).cast("long").alias("gap_sum_s"),
            F.min("gap_s").cast("long").alias("gap_min_s"),
            F.max("gap_s").cast("long").alias("gap_max_s"),
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        def step(key, pdf, state):
            pdf = pdf.sort_values(["sec", "event_id"])
            # 'have a previous event' == state exists (a key's state is
            # written on its first batch) — NOT a sentinel on last,
            # which a pre-1970 negative epoch would defeat
            have = state is not None
            last, n, s, mn, mx = state or (0, 0, 0, -1, -1)
            for sec in pdf["sec"]:
                sec = int(sec)
                if have:
                    g = sec - last
                    n += 1
                    s += g
                    mn = g if mn < 0 or g < mn else mn
                    mx = g if g > mx else mx
                have = True
                last = sec
            row = (key[0], key[1], n, s, mn if n else None, mx if n else None)
            return (last, n, s, mn, mx), [row]

        return _keyed_fold(
            self._base(df),
            ["user_id", "event_type"],
            self._OUT,
            "last long, n long, s long, mn long, mx long",
            step,
        )


@dataclass
class EwmaMonitorOp:
    """Streaming per-type EWMA of event value — the sequential
    smoother next to CusumMonitorOp's drift detector: per event-type
    state is one (ewma_micro, n) pair; each arrival folds
    ``ewma' = (num·x + (den−num)·ewma) div den`` in micro-units
    (value·10⁶, round-half-up once at ingest — the attribution
    family's micro-quantize-once discipline), seeded by the first
    value. ``div`` truncates toward zero in Spark SQL; the Python
    state fold uses the matching trunc-div, so stream ≡ batch
    bit-for-bit under the standard in-order contract (per-type
    event-time order across triggers; within a batch the op sorts).

    α is carried as the exact rational num/den — no float in the
    recurrence, so the result is independent of partitioning AND of
    where trigger boundaries fall. State is |types|-bounded: two
    longs per key.

    Batch twin (``__call__``): the identical integer fold expressed as
    a SQL ``aggregate(...)`` over the per-type (sec, event_id)-sorted
    value list — a collect_list per type, which is fine for the
    |types|-cardinality parity reference (a 100 TB deployment reads
    the op's emitted snapshots, not the batch twin).
    """

    name: str
    alpha_num: int = 2
    alpha_den: int = 10
    value_col: str = "value"

    _OUT = "event_type string, n_events long, ewma_micro long"

    def _base(self, df: DataFrame) -> DataFrame:
        micro = F.round(F.col(self.value_col) * 1_000_000).cast("long")
        # NULL values/timestamps drop in BOTH paths (int(NaN) would
        # kill the stream fold; the SQL fold would fold garbage)
        return df.filter(
            F.col(self.value_col).isNotNull() & F.col("ts").isNotNull()
        ).select(
            "event_type",
            micro.alias("micro"),
            F.unix_timestamp("ts").alias("sec"),
            "event_id",
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        num, den = self.alpha_num, self.alpha_den
        fold = F.expr(
            f"""
            aggregate(
              transform(array_sort(collect_list(struct(sec, event_id, micro))),
                        v -> v.micro),
              named_struct('e', cast(0 as bigint), 'n', cast(0 as bigint)),
              (acc, x) -> named_struct(
                'e', case when acc.n = 0 then x
                     else ({num} * x + {den - num} * acc.e) div {den} end,
                'n', acc.n + 1))
            """
        )
        return (
            self._base(df)
            .groupBy("event_type")
            .agg(fold.alias("st"))
            .select(
                "event_type",
                F.col("st.n").alias("n_events"),
                F.col("st.e").alias("ewma_micro"),
            )
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        num, den = self.alpha_num, self.alpha_den

        def step(key, pdf, state):
            e, n = state or (0, 0)
            for x in pdf.sort_values(["sec", "event_id"])["micro"]:
                x = int(x)
                e = x if n == 0 else _trunc_div(num * x + (den - num) * e, den)
                n += 1
            return (e, n), [(key[0], n, e)]

        return _keyed_fold(
            self._base(df), ["event_type"], self._OUT, "e long, n long", step
        )


@dataclass
class BottomKSampleOp:
    """Streaming DETERMINISTIC uniform sample — a bottom-k sketch per
    source: keep the k documents whose portable hash32(doc_id) is
    smallest. Because "smallest k of a fixed hash" is a pure set fold
    (order-free, duplicate-stable), the maintained sample is
    IDENTICAL no matter how the stream is split into triggers or
    partitions — the property a random reservoir cannot give you —
    and equals the batch rank-by-hash sample over everything seen.
    This is the live train-data eyeball panel: a fixed-size,
    provably-uniform peek per source while a crawl is ingesting.

    Per-key state is the k (hash, doc_id) pairs plus a row count;
    each trigger emits the CURRENT sample as an array column next to
    the running n_seen, so the latest emission per source is the
    sample of record. At 100 TB state is k·|sources| longs.

    Batch twin (``__call__``): row_number over (h, doc_id) per source,
    keep ≤ k, reassembled in the same (h, doc_id) order.
    """

    name: str
    k: int = 8
    id_col: str = "doc_id"
    key_col: str = "source"

    _OUT = "source string, n_seen long, sample_ids array<long>"

    def _base(self, df: DataFrame) -> DataFrame:
        from distributed_file_system_with_stream_processing_spark.functions import (
            text as T,
        )

        return df.select(
            F.col(self.key_col).alias("source"),
            F.col(self.id_col).alias("id"),
            T.hash32(F.col(self.id_col).cast("string")).alias("h"),
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        base = self._base(df)
        counts = base.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_seen")
        )
        w = Window.partitionBy("source").orderBy("h", "id")
        samp = (
            base.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= self.k)
            .groupBy("source")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("h", "id"))),
                    lambda p: p["id"],
                ).alias("sample_ids")
            )
        )
        return counts.join(samp, "source").select(
            "source", "n_seen", "sample_ids"
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        k = self.k

        def step(key, pdf, state):
            if state:
                hs, ids, n = state
                pairs = list(zip(hs, ids))
            else:
                pairs, n = [], 0
            pairs.extend(zip((int(h) for h in pdf["h"]), (int(i) for i in pdf["id"])))
            pairs.sort()
            pairs = pairs[:k]
            n += len(pdf)
            ids = [i for _, i in pairs]
            return ([h for h, _ in pairs], ids, n), [(key[0], n, ids)]

        return _keyed_fold(
            self._base(df),
            ["source"],
            self._OUT,
            "hs array<long>, ids array<long>, n long",
            step,
        )


@dataclass
class MinHashSketchOp:
    """Streaming per-source MINHASH signature maintainer — the live
    face of the corpus-overlap estimators (``minhash_jaccard_estimate``
    / ``source_neardup_matrix``): per source, the k affine-family
    minima over every document shingle seen so far. Elementwise min
    is an order-free, mergeable fold, so the maintained signature is
    bit-identical however triggers split the stream, and two sources'
    signatures estimate their shingle-set Jaccard live
    (matching positions / k) while a crawl ingests — the dashboard
    that catches "source B is re-crawling source A" without a pair
    join.

    Reuses the EXACT portable family of the batch queries
    (functions/text.py: hash32 + mh_params affine transforms mod the
    shared prime), so sketches made here are comparable with every
    committed batch signature, AND the exploded one-md5-per-shingle
    layout of operators/dedup.minhash_banded — a per-doc
    ``minhash_signature`` array would re-evaluate the md5 inside each
    of the k interpreted higher-order minima (measured 5× slower at
    sf0.1, 97 s vs ~10 s at sf1 for the staged source-Jaccard query).

    One plan for bounded and streaming input: k min-aggregates over the
    exploded (source, pos, hash) rows, map-side partial mins and one
    |sources|-cardinality shuffle; on a stream Spark keeps the k minima
    and the count per source as native update-mode state.
    ``n_docs`` counts the shingle rows at position 0, one per document
    with at least one shingle, so it assumes each input row is a
    distinct document (``doc_id`` unique). Docs with fewer than ``n``
    words (empty shingle set) contribute nothing; min over per-doc
    minima ≡ min over the shingle UNION, so the maintained signature is
    the source-level set signature. A checkpoint written by the earlier
    ``applyInPandasWithState`` fold of this op cannot be resumed.
    """

    name: str
    k: int = 16
    n: int = 3
    source_col: str = "source"
    text_col: str = "text"

    def _hashed(self, df: DataFrame) -> DataFrame:
        # (source, pos, h) rows: ONE md5 per (doc, shingle);
        # posexplode_outer + null filter per the scan-predicate trap
        # (operators/dedup._exploded_shingles). Batch input is SPREAD
        # first: a one-file parquet scans as one partition and would
        # pin the whole shingle+md5 stage to one core (streaming
        # micro-batches are already parallel post-source).
        from distributed_file_system_with_stream_processing_spark.functions import (
            text as T,
        )
        from distributed_file_system_with_stream_processing_spark.operators._util import (
            spread,
        )

        if not df.isStreaming:
            df = spread(df)
        sh = T.shingles(F.col(self.text_col), self.n)
        return (
            df.select(
                F.col(self.source_col).alias("source"),
                F.posexplode_outer(sh).alias("pos", "s"),
            )
            .filter(F.col("s").isNotNull())
            .select("source", "pos", T.hash32(F.col("s")).alias("h"))
        )

    def _affine(self, i: int):
        from distributed_file_system_with_stream_processing_spark.functions import (
            text as T,
        )

        a, b = T.mh_params(i)
        return (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(T.MINHASH_PRIME)

    def __call__(self, df: DataFrame) -> DataFrame:
        return (
            self._hashed(df)
            .groupBy("source")
            .agg(
                F.count_if(F.col("pos") == 0).alias("n_docs"),
                F.array(
                    *[F.min(self._affine(i)) for i in range(self.k)]
                ).alias("sig"),
            )
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        return self(df)


def _mg_fold(counters: dict, terms, k: int) -> None:
    """Misra–Gries k-counter fold, shared verbatim by MisraGriesOp's
    batch and stream paths (same code + same token order = exact
    stream/batch parity for an otherwise order-sensitive sketch)."""
    for t in terms:
        if t in counters:
            counters[t] += 1
        elif len(counters) < k:
            counters[t] = 1
        else:
            dead = []
            for key in counters:
                counters[key] -= 1
                if counters[key] == 0:
                    dead.append(key)
            for key in dead:
                del counters[key]


@dataclass
class MisraGriesOp:
    """Streaming FREQUENT-ITEMS sketch (Misra & Gries 1982) — the
    fixed-memory heavy-hitter monitor that completes the sketch
    family (CMS = frequencies, HLL/GK = distinct/quantiles, this =
    top items): per source, k counters over the token stream; any
    term with true count > n/(k+1) is GUARANTEED present, and every
    kept count underestimates by at most n/(k+1) — the classical
    bounds a mixing dashboard needs to trust "these are the dominant
    boilerplate tokens" at 100 TB without a per-term shuffle.

    The MG fold is order-sensitive, so both paths consume tokens in
    the same canonical (doc_id, position) order and share the fold
    code itself (``_mg_fold``): within a micro-batch the op sorts, and
    across triggers the standard in-order contract applies (doc_id
    monotone — an append-only corpus). State is ≤ k (term, count)
    pairs + one long per source.

    Batch twin (``__call__``): the identical fold per source via
    Arrow ``applyInPandas`` over (doc_id, pos)-sorted tokens — the
    parity reference and the one-shot batch sketch.
    """

    name: str
    k: int = 8
    source_col: str = "source"
    text_col: str = "text"

    _OUT = "source string, n_tokens long, terms array<string>, counts array<long>"

    def _toks(self, df: DataFrame) -> DataFrame:
        from distributed_file_system_with_stream_processing_spark.functions import (
            text as T,
        )

        return df.select(
            F.col(self.source_col).alias("source"),
            F.col("doc_id"),
            F.posexplode_outer(T.words(F.col(self.text_col))).alias("pos", "w"),
        ).filter(F.col("w").isNotNull()).select(
            "source", "doc_id", "pos", F.lower(F.col("w")).alias("term")
        )

    def _step(self, key, pdf, state):
        # the fold both paths run: the stream resumes from state, the
        # batch twin starts every source from None
        if state:
            ts, cs, n = state
            counters = dict(zip(ts, (int(c) for c in cs)))
        else:
            counters, n = {}, 0
        _mg_fold(counters, pdf.sort_values(["doc_id", "pos"])["term"], self.k)
        n += len(pdf)
        ranked = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))
        terms, counts = [t for t, _ in ranked], [c for _, c in ranked]
        return (terms, counts, n), [(key[0], n, terms, counts)]

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        import pandas as pd

        step, cols = self._step, _columns(self._OUT)

        def fold(key, pdf):
            return pd.DataFrame(step(key, pdf, None)[1], columns=cols)

        return self._toks(df).groupBy("source").applyInPandas(fold, self._OUT)

    def stream_apply(self, df: DataFrame) -> DataFrame:
        return _keyed_fold(
            self._toks(df),
            ["source"],
            self._OUT,
            "ts array<string>, cs array<long>, n long",
            self._step,
        )


@dataclass
class KmvDistinctOp:
    """Streaming K-MINIMUM-VALUES distinct sketch (Bar-Yossef et al.
    2002) — the DETERMINISTIC mergeable distinct counter next to the
    HLL query (``events_approx_distinct``, rows-only because HLL
    internals aren't portable): keep the k smallest distinct
    hash32 values of the tracked dimension per key; with fewer than k
    the count is exact, past k the estimator (k−1)·2³² div h_k is a
    pure integer function of the sketch — so the estimate is
    bit-reproducible across engines, trigger splits, partitionings,
    AND the batch twin (a property HLL cannot give), while state
    stays k longs per key.

    Batch twin (``__call__``): distinct-hash rank per key — the same
    k minima and the same integer estimator in one shuffle.
    """

    name: str
    k: int = 64
    id_col: str = "user_id"
    key_col: str = "event_type"

    _SPACE = 1 << 32
    _OUT = "key string, n_seen long, sketch_size long, est_distinct long"

    def _base(self, df: DataFrame) -> DataFrame:
        from distributed_file_system_with_stream_processing_spark.functions import (
            text as T,
        )

        return df.select(
            F.col(self.key_col).alias("key"),
            T.hash32(F.col(self.id_col).cast("string")).alias("h"),
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        base = self._base(df)
        counts = base.groupBy("key").agg(
            F.count(F.lit(1)).cast("long").alias("n_seen")
        )
        w = Window.partitionBy("key").orderBy("h")
        mins = (
            base.distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= self.k)
            .groupBy("key")
            .agg(
                F.count(F.lit(1)).cast("long").alias("sketch_size"),
                F.max("h").alias("hk"),
            )
        )
        est = F.when(
            F.col("sketch_size") < F.lit(self.k), F.col("sketch_size")
        ).otherwise(
            F.expr(f"(cast({self.k - 1} as bigint) * {self._SPACE}) div hk")
        )
        return counts.join(mins, "key").select(
            "key", "n_seen", "sketch_size", est.cast("long").alias("est_distinct")
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        k, space = self.k, self._SPACE

        def step(key, pdf, state):
            if state:
                hs, n = state
                mins = set(int(h) for h in hs)
            else:
                mins, n = set(), 0
            mins.update(int(h) for h in pdf["h"])
            hs = sorted(mins)[:k]
            n += len(pdf)
            d = len(hs)
            est = d if d < k else (k - 1) * space // hs[-1]
            return (hs, n), [(key[0], n, d, est)]

        return _keyed_fold(
            self._base(df), ["key"], self._OUT, "hs array<long>, n long", step
        )


@dataclass
class LogHistQuantileOp:
    """Streaming power-of-two LOG-HISTOGRAM quantile sketch — the
    mergeable, bit-reproducible quantile monitor next to the GK/HLL
    rows-only queries (DDSketch's idea, Masson et al. 2019, with the
    γ=2 integer special case so NO floating point touches the
    bucketing): per key, counts on buckets b = bit_length(cents)
    (value micro-quantized to cents once at ingest; bucket b covers
    [2^(b−1), 2^b)), zero/negative clamped to bucket 0. Counts are
    order-free integer folds, and the quantile read-out — walk the
    cumulative histogram to rank ⌈q·n⌉, report the bucket midpoint
    3·2^(b−2) (integer div) — is a pure integer function of the
    histogram, so estimates match bit-for-bit across trigger splits,
    partitionings and the batch twin, with guaranteed relative error
    < 2 (one octave). State is ≤ 64 (bucket, count) pairs per key.

    Batch twin (``__call__``): the same buckets via the JVM-exact
    ``length(bin(cents))`` bit-length, one groupBy, and the same
    integer walk folded in SQL.

    ``weight_col`` (r9 s3): an optional integer weight — the histogram
    accumulates Σw instead of row counts and the rank walk runs on
    total MASS, so q=50 answers "below which value does half the
    weight live" (the byte-budget percentile). The default (weight 1)
    is bit-identical to the unweighted fold: n, the histogram, and
    every estimate are unchanged.
    """

    name: str
    qs: tuple[int, ...] = (50, 95)  # percentiles, integer points
    value_col: str = "value"
    weight_col: str | None = None

    _OUT = "event_type string, n long, q int, est_cents long"

    def _base(self, df: DataFrame) -> DataFrame:
        cents = F.round(F.col(self.value_col) * 100).cast("long")
        b = F.when(cents <= 0, F.lit(0)).otherwise(
            F.length(F.bin(cents)).cast("int")
        )
        w = (
            F.lit(1).cast("long")
            if self.weight_col is None
            else F.col(self.weight_col).cast("long")
        )
        # NULL values drop here in BOTH paths (a NULL bucket would
        # arrive in the Arrow fold as NaN and poison the query)
        out = df.filter(F.col(self.value_col).isNotNull())
        if self.weight_col is not None:
            out = out.filter(F.col(self.weight_col).isNotNull())
        return out.select("event_type", b.alias("b"), w.alias("w"))

    @staticmethod
    def _mid(b: int) -> int:
        # midpoint of [2^(b-1), 2^b) as integer cents; bucket 0 = 0
        return 0 if b <= 0 else (3 * (1 << b)) // 4 if b >= 2 else 1

    def _readout(self, hist: dict, n: int):
        # integer rank walk; both paths reach it through _step
        out = []
        buckets = sorted(hist)
        for q in self.qs:
            rank = (q * n + 99) // 100  # ceil(q·n/100), 1-based
            acc = 0
            est = 0
            for b in buckets:
                acc += hist[b]
                if acc >= rank:
                    est = self._mid(b)
                    break
            out.append((q, est))
        return out

    def _step(self, key, pdf, state):
        # the fold both paths run: the stream adds raw (b, w) rows to
        # its state, the batch twin feeds each type's pre-summed
        # histogram rows once, from None
        if state:
            bs, cs, n = state
            hist = dict(zip((int(b) for b in bs), (int(c) for c in cs)))
        else:
            hist, n = {}, 0
        for b, w in zip(pdf["b"], pdf["w"]):
            hist[int(b)] = hist.get(int(b), 0) + int(w)
        n += int(pdf["w"].sum())
        rows = [(key[0], n, q, est) for q, est in self._readout(hist, n)]
        return (sorted(hist), [hist[b] for b in sorted(hist)], n), rows

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        import pandas as pd

        step, cols = self._step, _columns(self._OUT)
        # shrink to the ≤64-bucket histogram JVM-side FIRST (map-side
        # combine); only histogram rows cross Arrow — corpus-scale safe
        hist_df = self._base(df).groupBy("event_type", "b").agg(
            F.sum("w").cast("long").alias("w")
        )

        def fold(key, pdf):
            return pd.DataFrame(step(key, pdf, None)[1], columns=cols)

        return hist_df.groupBy("event_type").applyInPandas(fold, self._OUT)

    def stream_apply(self, df: DataFrame) -> DataFrame:
        return _keyed_fold(
            self._base(df),
            ["event_type"],
            self._OUT,
            "bs array<int>, cs array<long>, n long",
            self._step,
        )


@dataclass
class SchemaDriftOp:
    """Streaming SCHEMA-DRIFT gate over semi-structured payloads — the
    ingest guard the events `props` JSON column needs at 100 TB: each
    document's sorted key-set signature (``json_object_keys`` joined
    with ',') is a schema fingerprint; keyed by (source, signature),
    per-key state is a (first-seen flag, count) pair, and every
    micro-batch emits (source, signature, delta, is_new) rows — a
    signature's first appearance anywhere in the stream carries
    ``is_new = 1``, the page an ingest owner gets when an upstream
    producer silently adds/renames a field. Σ deltas per (source,
    signature) reproduces the exact batch census at every trigger
    boundary (VocabGrowthOp's seen-flag discipline on a different
    key space); state is |distinct schemas|-bounded — tiny.

    Batch twin (``__call__``): the per-(source, signature) count via
    one groupBy over the same JVM-side signature expression.
    """

    name: str
    source_col: str = "source"
    json_col: str = "props"

    _OUT = "source string, signature string, delta long, is_new long"

    def _sig(self, df: DataFrame) -> DataFrame:
        sig = F.coalesce(
            F.array_join(
                F.array_sort(F.json_object_keys(F.col(self.json_col))), ","
            ),
            F.lit("(invalid)"),
        )
        return df.select(
            F.col(self.source_col).alias("source"), sig.alias("signature")
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        return self._sig(df).groupBy("source", "signature").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        def step(key, pdf, state):
            n = len(pdf)
            tot = (state[0] if state else 0) + n
            return (tot,), [(key[0], key[1], n, 0 if state else 1)]

        return _keyed_fold(
            self._sig(df), ["source", "signature"], self._OUT, "tot long", step
        )


@dataclass
class DedupGateOp:
    """Streaming EXACT-DEDUP gate — the ingest face of the registered
    batch dedups (``dedup_exact`` / ``dedup_keep_first``): keyed by
    the content fingerprint (FULL md5 of normalized text — the same
    128-bit key the registered ``dedup_exact`` groups on; a 32-bit
    hash would birthday-collide near ~77k distinct docs and silently
    drop unique content), per-key state is the keeper's doc_id;
    every arriving document is emitted with an ``is_dup`` verdict and
    the id it duplicates, so the sink keeps exactly the keep-first
    survivor set no matter how the stream is split into triggers —
    the dedup you want DURING a 100 TB crawl rather than as an
    after-the-fact batch pass.

    Keep-first semantics are doc_id-ordered: within a micro-batch the
    op sorts by doc_id, and across triggers the standard in-order
    contract applies (doc_id monotone — an append-only corpus). State
    is |distinct fingerprints|-bounded: one long per distinct content
    (the fingerprint itself lives in the state-store KEY).

    Batch twin (``__call__``): the same verdicts via one row_number
    window over the fingerprint key.
    """

    name: str
    text_col: str = "text"
    id_col: str = "doc_id"

    _OUT = "doc_id long, fp string, is_dup long, kept_doc_id long"

    def _base(self, df: DataFrame) -> DataFrame:
        from distributed_file_system_with_stream_processing_spark.functions import (
            text as T,
        )

        return df.select(
            F.col(self.id_col).alias("doc_id"),
            F.md5(T.norm_text(F.col(self.text_col))).alias("fp"),
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        w = Window.partitionBy("fp").orderBy("doc_id")
        first = F.first("doc_id").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return self._base(df).select(
            "doc_id",
            "fp",
            (F.row_number().over(w) > 1).cast("long").alias("is_dup"),
            first.alias("kept_doc_id"),
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        def step(key, pdf, state):
            keeper = state[0] if state else None
            out = []
            for d in pdf.sort_values("doc_id")["doc_id"]:
                d = int(d)
                if keeper is None:
                    keeper = d
                    out.append((d, key[0], 0, d))
                else:
                    out.append((d, key[0], 1, keeper))
            return (keeper,), out

        return _keyed_fold(self._base(df), ["fp"], self._OUT, "keeper long", step)


@dataclass
class AsofEnrichOp:
    """Streaming AS-OF enrichment — the live face of the batch
    ``events_asof_join`` (union + last-ignorenulls window,
    plans/analytics_ext.py): a single keyed stream carries BOTH
    dimension updates (``tag = 0``: the user's latest click) and fact
    rows (``tag = 1``: purchases); per-user state is the most recent
    dimension (ts, id) pair, and each fact row is emitted enriched
    with the dimension value in effect at-or-before its timestamp —
    ties at equal ts resolve dimension-first, matching the batch
    window's (ts, tag) sort. This is the CDC-style "enrich facts with
    the latest profile" join with O(1) state per user instead of a
    range-join explosion.

    In-order contract: per-user (ts, tag) order across triggers
    (within a micro-batch the op sorts); the batch twin replays the
    identical order, so stream ≡ batch exactly.

    Batch twin (``__call__``): the registered union+window as-of on a
    bounded df — one shuffle on user_id.
    """

    name: str

    _IN = "user_id, ts, tag, event_id, dim_id"
    _OUT = "event_id long, user_id long, sec long, dim_id long, dim_sec long"

    def _base(self, df: DataFrame) -> DataFrame:
        return df.filter(F.col("ts").isNotNull()).select(
            "user_id",
            F.unix_timestamp("ts").alias("sec"),
            "tag",
            "event_id",
            "dim_id",
            # unique within-second tiebreak: a row's own id
            F.coalesce(F.col("event_id"), F.col("dim_id")).alias("seq"),
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        w = (
            Window.partitionBy("user_id")
            .orderBy("sec", "tag", "seq")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        dim_sec = F.when(F.col("tag") == 0, F.col("sec"))
        dim_id = F.when(F.col("tag") == 0, F.col("dim_id"))
        return (
            self._base(df)
            .select(
                "user_id",
                "sec",
                "tag",
                "event_id",
                F.last(dim_id, ignorenulls=True).over(w).alias("dim_id_eff"),
                F.last(dim_sec, ignorenulls=True).over(w).alias("dim_sec_eff"),
            )
            .filter(F.col("tag") == 1)
            .select(
                "event_id",
                "user_id",
                "sec",
                F.coalesce(F.col("dim_id_eff"), F.lit(-1)).alias("dim_id"),
                F.coalesce(F.col("dim_sec_eff"), F.lit(-1)).alias("dim_sec"),
            )
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        def step(key, pdf, state):
            pdf = pdf.sort_values(["sec", "tag", "seq"])
            d_id, d_sec = state or (-1, -1)
            out = []
            for sec, tag, eid, did in zip(
                pdf["sec"], pdf["tag"], pdf["event_id"], pdf["dim_id"]
            ):
                if int(tag) == 0:
                    d_id, d_sec = int(did), int(sec)
                else:
                    out.append((int(eid), key[0], int(sec), d_id, d_sec))
            return (d_id, d_sec), out

        return _keyed_fold(
            self._base(df), ["user_id"], self._OUT, "d_id long, d_sec long", step
        )


@dataclass
class PrioritySampleOp:
    """Streaming DETERMINISTIC weighted sample — priority sampling
    (Duffield, Lund & Thorup 2007) with the random uniform replaced
    by the portable hash: priority = w·2³² div (hash32(id)+1), keep
    the k LARGEST priorities per key. "Largest k of a fixed integer
    priority" is a pure set fold (order-free, duplicate-stable), so
    the maintained sample is identical across trigger splits,
    partitionings, and the batch twin — the weighted counterpart of
    ``BottomKSampleOp``'s uniform panel. Long documents are sampled
    proportionally more (inclusion probability ≈ w/τ for the
    threshold priority τ), which is exactly the eyeball panel a
    curation owner wants when bytes, not documents, are the budget.

    Per-key state is the k (priority, hash, id, weight) tuples plus a
    row count; each trigger emits the CURRENT sample as parallel
    arrays next to the running n_seen. At 100 TB state is
    4k·|sources| longs.

    Batch twin (``__call__``): row_number over (priority DESC, h, id)
    per key, keep ≤ k, reassembled in the same order.
    """

    name: str
    k: int = 8
    id_col: str = "doc_id"
    key_col: str = "source"
    weight_col: str = "n_chars"

    _SPACE = 1 << 32
    _OUT = (
        "source string, n_seen long, sample_ids array<long>, "
        "sample_weights array<long>, sample_priorities array<long>"
    )

    def _base(self, df: DataFrame) -> DataFrame:
        from distributed_file_system_with_stream_processing_spark.functions import (
            text as T,
        )

        h = T.hash32(F.col(self.id_col).cast("string"))
        return df.select(
            F.col(self.key_col).alias("source"),
            F.col(self.id_col).alias("id"),
            F.col(self.weight_col).cast("long").alias("w"),
            h.alias("h"),
        ).withColumn("pri", F.expr(f"(w * {self._SPACE}) div (h + 1)"))

    def __call__(self, df: DataFrame) -> DataFrame:
        if df.isStreaming:
            return self.stream_apply(df)
        from pyspark.sql import Window

        base = self._base(df)
        counts = base.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_seen")
        )
        w = Window.partitionBy("source").orderBy(
            F.col("pri").desc(), "h", "id"
        )
        samp = (
            base.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= self.k)
            .groupBy("source")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("pri")).alias("np"), "h", "id", "w", "pri"))
                ).alias("tuples")
            )
            .select(
                "source",
                F.transform("tuples", lambda t: t["id"]).alias("sample_ids"),
                F.transform("tuples", lambda t: t["w"]).alias("sample_weights"),
                F.transform("tuples", lambda t: t["pri"]).alias("sample_priorities"),
            )
        )
        return counts.join(samp, "source").select(
            "source", "n_seen", "sample_ids", "sample_weights", "sample_priorities"
        )

    def stream_apply(self, df: DataFrame) -> DataFrame:
        k = self.k

        def step(key, pdf, state):
            if state:
                nps, hs, ids, ws, n = state
                tuples = list(zip(nps, hs, ids, ws))
            else:
                tuples, n = [], 0
            tuples.extend(
                (-int(p), int(h), int(i), int(w))
                for p, h, i, w in zip(pdf["pri"], pdf["h"], pdf["id"], pdf["w"])
            )
            tuples.sort()
            tuples = tuples[:k]
            n += len(pdf)
            nps, hs, ids, ws = ([t[j] for t in tuples] for j in range(4))
            return (nps, hs, ids, ws, n), [(key[0], n, ids, ws, [-p for p in nps])]

        return _keyed_fold(
            self._base(df),
            ["source"],
            self._OUT,
            "nps array<long>, hs array<long>, ids array<long>, ws array<long>, n long",
            step,
        )


@dataclass
class CompletenessMonitorOp:
    """Streaming FIELD-COMPLETENESS monitor — the live face of the
    batch ``field_completeness_census`` (plans/llm_ops25.py), keyed:
    per key (source / event_type), per configured column, the running
    (n_rows, n_missing) where missing = NULL, or blank-after-trim for
    string columns. The counters are order-free integer sums, so
    per-trigger emissions are trigger-split invariant and the final
    emission equals the batch result exactly — the ingest-health
    dashboard that flags a producer nulling a field WHILE the drop is
    landing.

    One plan for bounded and streaming input: one fused agg per key
    (every counter rides the same scan) + a stack() unpivot; on a
    stream Spark keeps the count and one sum per column per key as
    native update-mode state.
    """

    name: str
    key_col: str = "source"
    fields: tuple[tuple[str, bool], ...] = (("text", True), ("lang", True))

    def _miss(self, col: str, is_str: bool):
        c = F.col(col)
        if is_str:
            return c.isNull() | (F.trim(c) == "")
        return c.isNull()

    def _base(self, df: DataFrame) -> DataFrame:
        flags = F.array(
            *[
                F.when(self._miss(c, s), 1).otherwise(0).cast("long")
                for c, s in self.fields
            ]
        )
        return df.select(F.col(self.key_col).alias("key"), flags.alias("fl"))

    def __call__(self, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
            F.sum(F.col("fl").getItem(i)).cast("long").alias(f"m_{i}")
            for i in range(len(self.fields))
        ]
        row = self._base(df).groupBy("key").agg(*aggs)
        stack_args = ", ".join(
            f"'{c}', m_{i}" for i, (c, _) in enumerate(self.fields)
        )
        return row.selectExpr(
            "key",
            "n_rows",
            f"stack({len(self.fields)}, {stack_args}) as (column_name, n_missing)",
        ).select("key", "column_name", "n_rows", "n_missing")

    def stream_apply(self, df: DataFrame) -> DataFrame:
        return self(df)
