"""Custom stateful streaming (applyInPandasWithState) + watermark
late-data semantics — the Spark-native upgrades of the reference
leader's running-counts update log (reference rainstorm/rainstorm.go:
551-575)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_file_system_with_stream_processing_spark.streaming import ops as O
from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import RainStormJob

SCHEMA = "event_id long, event_type string, value double"
TS_SCHEMA = "event_id long, event_type string, ts timestamp"


def _batch(spark, start, n):
    cyc = ("click", "view", "purchase")
    rows = [(start + i, cyc[(start + i) % 3], float(start + i)) for i in range(n)]
    return spark.createDataFrame(rows, SCHEMA)


def _write(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def dirs(tmp_path):
    return {
        "src": str(tmp_path / "src"),
        "sink": str(tmp_path / "sink"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def test_stateful_count_emits_update_log(spark, dirs):
    """Two triggers → two generations of (key, total, delta) rows; the
    totals are cumulative across triggers (state survives), matching
    the reference's per-batch printed updates."""
    job = RainStormJob(O.identity(), O.StatefulCountOp("running", ["event_type"]))
    _write(_batch(spark, 0, 30), dirs["src"])
    q = job.start_stream(spark, dirs["src"], SCHEMA, dirs["ckpt"], query_name="updlog")
    try:
        q.processAllAvailable()
        first = {
            r["event_type"]: (r["total"], r["delta"])
            for r in spark.sql("select * from updlog").collect()
        }
        assert first == {"click": (10, 10), "view": (10, 10), "purchase": (10, 10)}
        _write(_batch(spark, 30, 15), dirs["src"])
        q.processAllAvailable()
        rows = spark.sql("select * from updlog").collect()
        # memory table accumulates each trigger's emissions: the log
        per_key = {}
        for r in rows:
            per_key.setdefault(r["event_type"], []).append((r["total"], r["delta"]))
        for k, log in per_key.items():
            log.sort()
            assert log == [(10, 10), (15, 5)], (k, log)
            assert sum(d for _, d in log) == log[-1][0]  # deltas sum to total
    finally:
        q.stop()


def test_stateful_batch_twin_matches_final_state(spark):
    op = O.StatefulCountOp("running", ["event_type"])
    df = _batch(spark, 0, 45)
    got = {r["event_type"]: r["total"] for r in op(df).collect()}
    assert got == {"click": 15, "view": 15, "purchase": 15}


def test_windowed_watermark_drops_late_data(spark, dirs):
    """Append-mode windowed count: a window row is emitted exactly once
    when the watermark passes its end; data later than the watermark is
    dropped, not re-aggregated."""

    def ts_batch(rows):
        return spark.createDataFrame(
            [(i, "e", f"2024-01-01 {h:02d}:{m:02d}:00") for i, (h, m) in enumerate(rows)],
            "event_id long, event_type string, ts string",
        ).select("event_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))

    job = RainStormJob(
        O.identity(),
        O.WindowedCountOp("win", ts_col="ts", window="1 hour", watermark="1 hour"),
    )
    # trigger 1: three events in [10:00, 11:00) plus one at 14:00 that
    # drives the watermark to 13:00 — far past the 10:00 window
    _write(ts_batch([(10, 5), (10, 20), (10, 40), (14, 0)]), dirs["src"])
    q = job.start_stream(
        spark, dirs["src"], TS_SCHEMA, dirs["ckpt"], sink_dir=dirs["sink"], query_name="win"
    )
    try:
        q.processAllAvailable()
        # trigger 2: one LATE event for the closed 10:00 window (must be
        # dropped) and a fresh event at 15:00 to advance the watermark
        _write(ts_batch([(10, 50), (15, 0)]), dirs["src"])
        q.processAllAvailable()
        # trigger 3: empty-ish nudge so the 14:00 window can close too
        _write(ts_batch([(16, 0)]), dirs["src"])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        str(r["window_start"]): r["cnt"]
        for r in spark.read.parquet(dirs["sink"]).collect()
    }
    # the 10:00 window emitted ONCE with the on-time count of 3; the
    # late 10:50 event vanished (never a 4, never a second row)
    assert got["2024-01-01 10:00:00"] == 3, got


def test_stream_ingest_dedup_drops_resent_rows(spark, dirs):
    """Duplicate event_ids re-sent in a later file (the reference's
    re-sent batch after a worker failure) are dropped by the stateful
    dedup, with state bounded by the watermark."""
    from pyspark.sql import functions as F

    def ts_batch(ids, hour):
        return spark.createDataFrame(
            [(i, "e", f"2024-01-01 {hour:02d}:00:00") for i in ids],
            "event_id long, event_type string, ts string",
        ).select("event_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))

    job = RainStormJob(
        O.dedup_by(["event_id"], ts_col="ts", watermark="2 hours"), O.identity()
    )
    _write(ts_batch([1, 2, 3], 10), dirs["src"])
    q = job.start_stream(
        spark, dirs["src"], TS_SCHEMA, dirs["ckpt"], sink_dir=dirs["sink"], query_name="dd"
    )
    try:
        q.processAllAvailable()
        # re-send 2 and 3 (inside the watermark) plus a fresh 4
        _write(ts_batch([2, 3, 4], 10), dirs["src"])
        q.processAllAvailable()
    finally:
        q.stop()
    ids = sorted(r["event_id"] for r in spark.read.parquet(dirs["sink"]).collect())
    assert ids == [1, 2, 3, 4]  # each exactly once


def test_batch_dedup_twin(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "event_id long, event_type string"
    ).withColumn("ts", F.current_timestamp())
    out = O.dedup_by(["event_id"])(df)
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2]


def test_stream_stream_join_within_window(spark, tmp_path):
    """Two live streams joined on key within a time bound; both sides
    watermarked so state stays bounded."""
    from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import join_streams

    c_dir, p_dir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def ts_df(rows, prefix):
        return spark.createDataFrame(
            [(i, u, f"2024-01-01 {h:02d}:{m:02d}:00") for i, u, h, m in rows],
            f"{prefix}_id long, user_id long, ts string",
        ).select(
            f"{prefix}_id", "user_id",
            F.col("ts").cast("timestamp").alias(f"{prefix}_ts"),
        )

    # user 1: click 10:00 → purchase 10:30 (within 1h: match)
    # user 2: click 10:00 → purchase 12:30 (outside 1h: no match)
    _write(ts_df([(1, 1, 10, 0), (2, 2, 10, 0)], "click"), c_dir)
    _write(ts_df([(10, 1, 10, 30), (20, 2, 12, 30)], "purch"), p_dir)

    clicks = spark.readStream.schema("click_id long, user_id long, click_ts timestamp").parquet(c_dir)
    purch = (
        spark.readStream.schema("purch_id long, user_id long, purch_ts timestamp")
        .parquet(p_dir)
        .withColumnRenamed("user_id", "p_user_id")
    )
    joined = join_streams(
        clicks.withColumnRenamed("user_id", "key").withColumnRenamed("click_ts", "lts"),
        purch.withColumnRenamed("p_user_id", "key").withColumnRenamed("purch_ts", "rts"),
        key="key", left_ts="lts", right_ts="rts",
        watermark="30 minutes", within="1 hour",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # advance both watermarks so pending matches flush
        _write(ts_df([(3, 9, 15, 0)], "click"), c_dir)
        _write(ts_df([(30, 9, 15, 0)], "purch"), p_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(sink).collect()
    pairs = {(r["click_id"], r["purch_id"]) for r in rows}
    assert (1, 10) in pairs          # within the hour: joined
    assert (2, 20) not in pairs      # 2.5h later: outside the bound


def test_stateful_count_survives_restart(spark, dirs):
    """Kill the stateful query, add data, restart from the same
    checkpoint: running totals CONTINUE from recovered state (the
    reference's leader restart with its AggregateCounts intact).
    Memory sink can't recover from a checkpoint, so the update log
    goes through foreachBatch into parquet — the production shape."""
    op = O.StatefulCountOp("running", ["event_type"])

    def start():
        src = spark.readStream.schema(SCHEMA).parquet(dirs["src"])
        out = op.stream_apply(O.identity()(src))

        def sink(bdf, bid):
            if bdf.count():
                bdf.write.mode("append").parquet(dirs["sink"])

        return (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .start()
        )

    _write(_batch(spark, 0, 30), dirs["src"])
    q = start()
    q.processAllAvailable()
    q.stop()
    _write(_batch(spark, 30, 15), dirs["src"])
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(dirs["sink"]).collect()
    # post-restart totals include the RECOVERED pre-restart state
    finals = {}
    for r in rows:
        finals[r["event_type"]] = max(finals.get(r["event_type"], 0), r["total"])
    assert finals == {"click": 15, "view": 15, "purchase": 15}
    deltas = sum(r["delta"] for r in rows if r["event_type"] == "click")
    assert deltas == 15  # no lost or duplicated increments across restart


def test_running_topk_batch_twin(spark):
    """RunningTopKOp batch twin: window rank equals a hand-computed
    top-k per key."""
    op = O.RunningTopKOp(key="event_type", value_col="value", k=3)
    got = {(r["key"], r["rank"]): r["value"] for r in op(_batch(spark, 0, 30)).collect()}
    # values are float(event_id); per type the top-3 are the 3 largest
    # ids of that type within 0..29
    import collections

    by_type = collections.defaultdict(list)
    cyc = ("click", "view", "purchase")
    for i in range(30):
        by_type[cyc[i % 3]].append(float(i))
    exp = {}
    for t, vals in by_type.items():
        for rank, v in enumerate(sorted(vals, reverse=True)[:3], 1):
            exp[(t, rank)] = v
    assert got == exp


def test_running_topk_transform_with_state(spark, dirs, tmp_path):
    """Running top-k stream into an append-mode parquet sink: state
    (the k best values per key) survives across triggers AND across a
    checkpoint restart; the final emission equals the batch-twin
    window rank over everything ingested.
    """
    import os

    op = O.RunningTopKOp(key="event_type", value_col="value", k=3)

    os.makedirs(dirs["src"], exist_ok=True)
    _write(_batch(spark, 0, 30), dirs["src"])

    def run_once():
        src = spark.readStream.schema(SCHEMA).parquet(dirs["src"])
        q = (
            op(src)
            .writeStream.format("parquet")
            .option("path", dirs["sink"])
            .option("checkpointLocation", dirs["ckpt"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # second file, new stream instance from the same checkpoint
    _write(_batch(spark, 100, 30), dirs["src"])
    run_once()

    out = spark.read.parquet(dirs["sink"])
    # keep only each key's LAST emission (max value per rank wins since
    # running top-k values only ever improve)
    final = {
        (r["key"], r["rank"]): r["value"]
        for r in out.groupBy("key", "rank").agg(F.max("value").alias("value")).collect()
    }
    expected = {
        (r["key"], r["rank"]): r["value"]
        for r in op(
            _batch(spark, 0, 30).unionByName(_batch(spark, 100, 30))
        ).collect()
    }
    assert final == expected
    # top-1 must come from the SECOND file (values 100+) — proves state
    # merged across triggers rather than restarting per batch
    assert max(v for (k, _), v in final.items()) >= 100.0


def test_transition_state_chains_across_triggers(spark, dirs):
    """Per-user last-event state: two ts-ordered micro-batches must
    yield transition deltas that SUM to the batch lead()-window pair
    counts — including the cross-batch transition the chaining state
    exists to capture."""
    import datetime as dt

    rows1 = [
        (0, "click", dt.datetime(2024, 1, 1, 0, 0), 1),
        (1, "view", dt.datetime(2024, 1, 1, 0, 1), 1),
        (2, "click", dt.datetime(2024, 1, 1, 0, 0, 30), 2),
    ]
    rows2 = [
        (3, "purchase", dt.datetime(2024, 1, 1, 0, 2), 1),
        (4, "view", dt.datetime(2024, 1, 1, 0, 3), 2),
        (5, "view", dt.datetime(2024, 1, 1, 0, 4), 2),
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.TransitionCountOp("trans")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("trans_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[tuple, int] = {}
        for r in spark.sql("select * from trans_stream").collect():
            k = (r["user_id"], r["prev_type"], r["next_type"])
            got[k] = got.get(k, 0) + r["delta"]
    finally:
        q.stop()

    batch = {
        (r["user_id"], r["prev_type"], r["next_type"]): r["delta"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    # cross-batch chains: user 1 view→purchase, user 2 click→view
    assert got[(1, "view", "purchase")] == 1
    assert got[(2, "click", "view")] == 1
    assert got == batch


def test_quota_sample_caps_per_key_across_triggers(spark, dirs):
    """Stateful admission: quota=3 per key; trigger 1 admits 2, so
    trigger 2 may admit only 1 more — and the admitted set equals the
    batch row_number()<=quota window for id-ordered arrival."""
    schema = "source string, doc_id long"
    rows1 = [("a", 1), ("a", 2), ("b", 1)]
    rows2 = [("a", 3), ("a", 4), ("a", 5), ("b", 2)]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.QuotaSampleOp("quota", key_col="source", order_col="doc_id", quota=3)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("quota_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        streamed = {
            (r["source"], r["doc_id"])
            for r in spark.sql("select * from quota_stream").collect()
        }
    finally:
        q.stop()

    batch = {
        (r["source"], r["doc_id"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert streamed == batch
    assert streamed == {("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2)}


def test_sliding_window_counts_stream_matches_batch(spark, dirs):
    """SlidingCountOp (1h window / 15m slide): each event lands in 4
    overlapping windows; a burst straddling a tumbling boundary shows
    its true peak in SOME sliding window. Streamed append-mode output
    (windows closed by the watermark) must equal the batch twin run on
    the same rows, window-for-window."""

    def ts_batch(rows):
        return spark.createDataFrame(
            [(i, "e", f"2024-01-01 {h:02d}:{m:02d}:00") for i, (h, m) in enumerate(rows)],
            "event_id long, event_type string, ts string",
        ).select("event_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))

    # burst 9:50-10:10 straddles the 10:00 tumbling boundary
    rows1 = [(9, 50), (9, 55), (10, 5), (10, 10), (12, 0)]
    rows2 = [(12, 30), (15, 0)]  # advance the watermark past every window
    op = O.SlidingCountOp("slide", ts_col="ts", window="1 hour", slide="15 minutes")
    job = RainStormJob(O.identity(), op)
    _write(ts_batch(rows1), dirs["src"])
    q = job.start_stream(
        spark, dirs["src"], TS_SCHEMA, dirs["ckpt"], sink_dir=dirs["sink"], query_name="slide"
    )
    try:
        q.processAllAvailable()
        _write(ts_batch(rows2), dirs["src"])
        q.processAllAvailable()
        _write(ts_batch([(18, 0)]), dirs["src"])
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        str(r["window_start"]): r["cnt"]
        for r in spark.read.parquet(dirs["sink"]).collect()
    }
    batch = {
        str(r["window_start"]): r["cnt"]
        for r in op(ts_batch(rows1 + rows2 + [(18, 0)])).collect()
    }
    # every window the stream closed matches the batch twin exactly
    assert streamed, "stream emitted nothing"
    for k, v in streamed.items():
        assert batch[k] == v, (k, v, batch.get(k))
    # the burst's true peak (4 events in 9:30-10:30-ish sliding frames)
    # is visible: some closed window counts all 4 burst events
    assert max(streamed.values()) >= 4, streamed
    # and each event really fans out into window/slide = 4 windows
    assert sum(batch.values()) == 4 * len(rows1 + rows2 + [(18, 0)])


def test_session_path_state_spans_triggers_and_splits_sessions(spark, dirs):
    """SessionPathOp: the per-user (last-two-types, last-ts) state must
    (a) complete a 3-step path whose first two steps arrived in the
    PREVIOUS trigger, and (b) reset at a 30-min inactivity gap — so the
    summed streamed deltas equal the batch sessionize + double-lead
    counts, and the cross-gap triple must NOT appear."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # user 1: view,click | trigger boundary | purchase (cross-trigger
    # triple view>click>purchase), then a 40-min gap, then view,click,
    # view (fresh session triple view>click>view; NO purchase>·>· path
    # may bridge the gap)
    rows1 = [
        (0, "view", at(0), 1),
        (1, "click", at(1), 1),
        (2, "view", at(0), 2),
    ]
    rows2 = [
        (3, "purchase", at(2), 1),
        (4, "view", at(45), 1),
        (5, "click", at(46), 1),
        (6, "view", at(47), 1),
        (7, "click", at(1), 2),
        (8, "error", at(2), 2),
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.SessionPathOp("paths")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("paths_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[tuple, int] = {}
        for r in spark.sql("select * from paths_stream").collect():
            k = (r["user_id"], r["path"])
            got[k] = got.get(k, 0) + r["delta"]
    finally:
        q.stop()

    batch = {
        (r["user_id"], r["path"]): r["delta"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch
    # the cross-trigger triple completed from remembered state
    assert got[(1, "view > click > purchase")] == 1
    # the fresh post-gap session produced its own triple...
    assert got[(1, "view > click > view")] == 1
    # ...and nothing bridged the 40-min gap
    assert not any("purchase > view" in p for (_, p) in got), got


def test_ab_monitor_counts_users_and_first_conversions_once(spark, dirs):
    """AbMonitorOp: per-user (counted, converted) state must emit each
    user's arm-join delta exactly once and each user's FIRST
    conversion exactly once across triggers — summed deltas equal the
    batch hash-split per-user table, and a re-purchase adds nothing."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    rows1 = [
        (0, "view", t0, 1),
        (1, "purchase", t0, 2),   # user 2 converts in trigger 1
        (2, "view", t0, 3),
    ]
    rows2 = [
        (3, "purchase", t0, 1),   # user 1 converts in trigger 2
        (4, "purchase", t0, 2),   # user 2 re-purchases: must add 0
        (5, "view", t0, 4),       # user 4 joins late, never converts
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.AbMonitorOp("ab")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("ab_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        sums: dict[int, list[int]] = {}
        for r in spark.sql("select * from ab_stream").collect():
            cur = sums.setdefault(r["user_id"], [r["arm"], 0, 0])
            assert cur[0] == r["arm"]
            cur[1] += r["d_user"]
            cur[2] += r["d_conv"]
    finally:
        q.stop()

    batch = {
        r["user_id"]: [r["arm"], 1, r["converted"]]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert sums == batch
    # every user counted exactly once; user 2's re-purchase added 0
    assert all(v[1] == 1 for v in sums.values())
    assert sums[2][2] == 1 and sums[1][2] == 1 and sums[3][2] == 0 and sums[4][2] == 0


def test_session_path_null_event_type_contract(spark, dirs):
    """Null contract (ADVICE r5): a NULL event_type row does not exist
    for either twin — it must not extend a path, not reset or extend
    the inactivity clock, and never crash the streaming join. Both
    twins must equal the run with the null rows removed."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        (0, "view", at(0), 1),
        (1, None, at(1), 1),      # must vanish entirely
        (2, "click", at(2), 1),
        (3, None, at(3), 1),
        (4, "purchase", at(4), 1),
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    _write(spark.createDataFrame(rows, schema), dirs["src"])

    op = O.SessionPathOp("paths_null")
    batch = {
        (r["user_id"], r["path"]): r["delta"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    clean = [r for r in rows if r[1] is not None]
    batch_clean = {
        (r["user_id"], r["path"]): r["delta"]
        for r in op(spark.createDataFrame(clean, schema)).collect()
    }
    assert batch == batch_clean == {(1, "view > click > purchase"): 1}

    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("paths_null_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        got: dict[tuple, int] = {}
        for r in spark.sql("select * from paths_null_stream").collect():
            k = (r["user_id"], r["path"])
            got[k] = got.get(k, 0) + r["delta"]
    finally:
        q.stop()
    assert got == batch


def test_benford_monitor_deltas_equal_batch(spark, dirs):
    """BenfordMonitorOp: summed per-digit deltas across two triggers
    must equal the batch digit histogram, and the digit rule must be
    the integer-cents-string rule (no float log10)."""
    rows1 = [(0, "view", 1.23, 1), (1, "view", 45.0, 1), (2, "view", 0.19, 2)]
    rows2 = [(3, "view", 120.5, 2), (4, "view", 0.0, 3), (5, "view", 9.99, 3)]
    schema = "event_id long, event_type string, value double, user_id long"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.BenfordMonitorOp("benford")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("benford_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[int, int] = {}
        for r in spark.sql("select * from benford_stream").collect():
            got[r["digit"]] = got.get(r["digit"], 0) + r["delta"]
    finally:
        q.stop()
    batch = {
        r["digit"]: r["n_events"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch
    # 1.23 -> 123 -> digit 1; 45.0 -> 4500 -> 4; 0.19 -> 19 -> 1;
    # 120.5 -> 12050 -> 1; 0.0 dropped; 9.99 -> 999 -> 9
    assert batch == {1: 3, 4: 1, 9: 1}


def test_retention_matrix_stream_equals_batch(spark, dirs):
    """RetentionMatrixOp: the summed (cohort, offset) deltas across
    triggers equal the batch weekly triangle; a user re-appearing in
    an already-seen week adds nothing (bitmask exactly-once)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(days):
        return t0 + dt.timedelta(days=days)

    rows1 = [(0, "view", at(0), 1), (1, "view", at(1), 1), (2, "view", at(0), 2)]
    rows2 = [
        (3, "view", at(7), 1),   # user 1, offset 1
        (4, "view", at(8), 1),   # same offset week — no new delta
        (5, "view", at(21), 2),  # user 2, offset 3
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.RetentionMatrixOp("retmat")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("retmat_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[tuple, int] = {}
        for r in spark.sql("select * from retmat_stream").collect():
            k = (r["cohort_week"], r["week_offset"])
            got[k] = got.get(k, 0) + r["delta"]
    finally:
        q.stop()
    batch = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch
    # both users share the cohort week; offsets {0,1} for u1, {0,3} u2
    offsets = {k[1]: v for k, v in batch.items()}
    assert offsets == {0: 2, 1: 1, 3: 1}


def test_prefix_dup_gate_first_arrival_wins(spark, dirs):
    """PrefixDupGateOp: the first doc of a prefix is kept, later ones
    dropped — across trigger boundaries (state remembers the prefix),
    matching the batch min-doc_id rule under id-ordered arrival."""
    pfx_text = "shared prefix shared prefix shared "
    rows1 = [(1, pfx_text + "tail one"), (2, "unique document body here")]
    rows2 = [(3, pfx_text + "tail two"), (4, pfx_text + "tail three")]
    schema = "doc_id long, text string"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.PrefixDupGateOp("pfxgate")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("pfxgate_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got = {
            r["doc_id"]: r["keep"]
            for r in spark.sql("select * from pfxgate_stream").collect()
        }
    finally:
        q.stop()
    batch = {
        r["doc_id"]: r["keep"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch == {1: True, 2: True, 3: False, 4: False}


def test_session_depth_stream_equals_batch_on_closed_sessions(spark, dirs):
    """SessionDepthOp: with every session force-closed by a late
    sentinel per user, the summed streamed (depth, delta) histogram
    equals the batch twin MINUS the sentinel singletons — sessions
    that span a trigger boundary must report their full depth."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # user 1: 3-event session split across triggers, then a 2-event
    # session; user 2: a 1-event session. Sentinels at +10h close all.
    rows1 = [(0, "view", at(0), 1), (1, "click", at(1), 1), (2, "view", at(0), 2)]
    rows2 = [
        (3, "purchase", at(2), 1),          # completes u1's 3-event session
        (4, "view", at(60), 1), (5, "view", at(61), 1),  # u1 session 2 (depth 2)
        (6, "sentinel", at(600), 1), (7, "sentinel", at(600), 2),
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.SessionDepthOp("sdepth")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("sdepth_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[int, int] = {}
        for r in spark.sql("select * from sdepth_stream").collect():
            got[r["depth"]] = got.get(r["depth"], 0) + r["delta"]
    finally:
        q.stop()

    batch = {
        r["depth"]: r["n_sessions"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    # the batch twin also counts the two open sentinel sessions
    # (depth 1 each); remove them for the closed-session comparison
    batch[1] = batch.get(1, 0) - 2
    batch = {k: v for k, v in batch.items() if v}
    assert got == batch == {1: 1, 2: 1, 3: 1}


def test_reconcile_stream_retracts_to_batch_classification(spark, dirs):
    """ReconcileOp: the running (priority, class) delta sums equal the
    batch classification table at EVERY trigger boundary — including
    the out-of-order cases (a line group that precedes its header
    counts as ORPHAN until the header lands, then RETRACTS into its
    real priority bucket; an EMPTY header moves to MISMATCHED when a
    bad line arrives; a MISMATCHED order moves to MATCHED when the
    completing line closes the gap)."""
    schema = "order_key long, kind string, priority string, cents long"
    # trigger 1: order 1 header(100)+line(60) → MISMATCHED;
    # order 2 line(40) with no header → ORPHAN; order 3 header → EMPTY
    rows1 = [
        (1, "H", "1-URGENT", 100),
        (1, "L", None, 60),
        (2, "L", None, 40),
        (3, "H", "2-HIGH", 500),
    ]
    # trigger 2: order 1 completing line → MATCHED (retract MISMATCHED);
    # order 2 header lands → MATCHED (retract ORPHAN); order 3 bad
    # line → MISMATCHED (retract EMPTY)
    rows2 = [
        (1, "L", None, 40),
        (2, "H", "1-URGENT", 40),
        (3, "L", None, 10),
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.ReconcileOp("recon")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("recon_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )

    def sums():
        got: dict[tuple, int] = {}
        for r in spark.sql("select * from recon_stream").collect():
            k = (r["priority"], r["cls"])
            got[k] = got.get(k, 0) + r["delta"]
        return {k: v for k, v in got.items() if v}

    def batch(df):
        return {
            (r["priority"], r["cls"]): r["n_orders"] for r in op(df).collect()
        }

    try:
        q.processAllAvailable()
        mid = sums()
        assert mid == batch(spark.createDataFrame(rows1, schema))
        assert mid == {
            ("1-URGENT", "MISMATCHED"): 1,
            ("ORPHAN_LINEITEM", "ORPHAN"): 1,
            ("2-HIGH", "EMPTY"): 1,
        }
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        end = sums()
    finally:
        q.stop()
    assert end == batch(spark.read.schema(schema).parquet(dirs["src"]))
    assert end == {("1-URGENT", "MATCHED"): 2, ("2-HIGH", "MISMATCHED"): 1}


def test_reconcile_batch_twin_matches_registered_audit(spark):
    """ReconcileOp's batch classification over real sf0.001 records
    (headers from orders, line groups from lineitem, the audit's
    integer-cents rule) must agree with the registered
    orders_reconciliation_audit count columns per priority."""
    from distributed_file_system_with_stream_processing_spark.plans.llm_ops16 import (
        orders_reconciliation_audit,
    )
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.lit("H").alias("kind"),
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("order_key"),
        F.lit("L").alias("kind"),
        F.lit(None).cast("string").alias("priority"),
        F.round(
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * (F.lit(1.0) + F.col("l_tax"))
            * 100
        )
        .cast("long")
        .alias("cents"),
    )
    got = {
        (r["priority"], r["cls"]): r["n_orders"]
        for r in O.ReconcileOp("recon")(o.unionByName(li)).collect()
    }
    audit = orders_reconciliation_audit(spark, sf).collect()
    for r in audit:
        pri = r["priority"]
        if pri == "ORPHAN_LINEITEM":
            assert got.get((pri, "ORPHAN"), 0) == r["n_orphan_li_groups"]
            continue
        assert got.get((pri, "EMPTY"), 0) == r["n_empty_orders"]
        assert got.get((pri, "MISMATCHED"), 0) == r["n_mismatched"]
        matched_ok = (
            r["n_orders"] - r["n_empty_orders"] - r["n_mismatched"]
        )
        assert got.get((pri, "MATCHED"), 0) == matched_ok


def test_reconcile_state_survives_restart(spark, dirs):
    """Kill the ReconcileOp query between triggers, add the completing
    records, restart from the same checkpoint: the recovered per-order
    state must produce the RETRACTIONS (not fresh +1s), so the summed
    deltas still equal the batch classification — exactly-once across
    a restart (the reference leader's restart-with-state contract)."""
    schema = "order_key long, kind string, priority string, cents long"
    rows1 = [(1, "H", "1-URGENT", 100), (1, "L", None, 60), (2, "L", None, 40)]
    rows2 = [(1, "L", None, 40), (2, "H", "2-HIGH", 40)]
    op = O.ReconcileOp("recon_rs")

    def start():
        src = spark.readStream.schema(schema).parquet(dirs["src"])

        def sink(bdf, bid):
            if bdf.count():
                bdf.write.mode("append").parquet(dirs["sink"])

        return (
            op.stream_apply(src)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .start()
        )

    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    q = start()
    q.processAllAvailable()
    q.stop()
    _write(spark.createDataFrame(rows2, schema), dirs["src"])
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got: dict[tuple, int] = {}
    for r in spark.read.parquet(dirs["sink"]).collect():
        k = (r["priority"], r["cls"])
        got[k] = got.get(k, 0) + r["delta"]
    got = {k: v for k, v in got.items() if v}
    batch = {
        (r["priority"], r["cls"]): r["n_orders"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    # order 1 MISMATCHED→MATCHED and order 2 ORPHAN→MATCHED both
    # require the pre-restart state to be recovered for the -1 rows
    assert got == batch == {("1-URGENT", "MATCHED"): 1, ("2-HIGH", "MATCHED"): 1}


def test_session_depth_watermark_closure_full_parity(spark, dirs):
    """SessionDepthOp(close_on_watermark=True): an idle user's open
    session closes via the EVENT-TIME TIMEOUT once another user's
    events advance the watermark past the gap — no sentinel event
    from the idle user — and the streamed histogram then equals the
    FULL batch histogram (open tails included)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    schema = "event_id long, ts timestamp, user_id long"
    # user 1: a 3-event session, then silence forever
    rows1 = [(0, at(0), 1), (1, at(60), 1), (2, at(120), 1)]
    # user 2 far in the future: advances the watermark way past
    # user 1's gap (1800s); written twice so a later micro-batch runs
    # with the advanced watermark and fires the timeout
    rows2 = [(3, at(10_000), 2)]
    rows3 = [(4, at(10_060), 2)]
    op = O.SessionDepthOp("sdepth_wm", close_on_watermark=True)

    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("sdepth_wm_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        _write(spark.createDataFrame(rows3, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[int, int] = {}
        for r in spark.sql("select * from sdepth_wm_stream").collect():
            got[r["depth"]] = got.get(r["depth"], 0) + r["delta"]
        got = {k: v for k, v in got.items() if v}
    finally:
        q.stop()
    # user 1's depth-3 session closed by TIMEOUT alone; user 2's
    # session (depth 2) is still open — the full batch histogram
    # minus exactly the sessions the watermark has not yet closed
    assert got == {3: 1}
    batch = {
        r["depth"]: r["n_sessions"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert batch == {3: 1, 2: 1}  # streamed == batch once u2 idles out


def test_session_depth_subsecond_gap_boundary(spark, dirs):
    """SessionDepthOp(close_on_watermark=True): an event landing in
    the sub-second window [last+gap, last+gap+1) has whole-second
    distance == gap and EXTENDS the session in the batch twin — so the
    timeout must fire only from (last+gap+1)s on. A timeout at
    (last+gap)s+1ms closes the session short: the stream would count
    depth 1 + depth 1 where the batch counts one depth-2 session."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    schema = "event_id long, ts timestamp, user_id long"
    rows1 = [(0, at(0), 1)]  # u1 opens: last_sec=0, gap ends in sec 1800
    rows2 = [(1, at(1810.5), 2)]  # end of trigger: watermark -> 1800.5s
    # u1-dataless trigger with watermark in (1800.001, 1801.0): a
    # (last+gap)*1000+1 timeout fires here (bug), (last+gap+1)*1000
    # does not
    rows3 = [(2, at(1810.6), 2)]
    # u1's boundary event: 1800.9s >= watermark, whole-sec distance
    # 1800 == gap -> extends the session in BOTH twins
    rows4 = [(3, at(1800.9), 1)]
    rows5 = [(4, at(20_000), 2)]  # advance the watermark far past u1
    rows6 = [(5, at(20_060), 2)]  # next trigger: u1's timeout fires
    op = O.SessionDepthOp("sdepth_subsec", close_on_watermark=True)

    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("sdepth_subsec_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        for rows in (rows2, rows3, rows4, rows5, rows6):
            q.processAllAvailable()
            _write(spark.createDataFrame(rows, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[int, int] = {}
        for r in spark.sql("select * from sdepth_subsec_stream").collect():
            got[r["depth"]] = got.get(r["depth"], 0) + r["delta"]
        got = {k: v for k, v in got.items() if v}
    finally:
        q.stop()
    # u1: ONE depth-2 session ([0, 1800.9s] — the boundary event
    # extended it); u2: its first depth-2 session closed by data, the
    # open [20000, 20060] tail not yet closed. The buggy early timeout
    # yields {1: 2, 2: 1} instead.
    assert got == {2: 2}, got
    batch = {
        r["depth"]: r["n_sessions"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert batch == {2: 3}  # streamed == batch minus u2's open tail


def test_session_path_watermark_eviction_bounds_state(spark, dirs):
    """SessionPathOp(evict_on_watermark=True): an idle user's state is
    REMOVED once the watermark passes its gap (observed via the state
    operator's numRowsTotal), and the path deltas are unchanged — the
    eviction is memory-only (a post-gap event starts a fresh tail in
    both worlds)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    schema = "event_id long, event_type string, ts timestamp, user_id long"
    rows1 = [
        (0, "a", at(0), 1),
        (1, "b", at(30), 1),
        (2, "c", at(60), 1),  # path a > b > c
    ]
    rows2 = [(3, "x", at(10_000), 2)]  # advances watermark past u1's gap
    rows3 = [(4, "y", at(10_060), 2)]  # next trigger: u1's timeout fires
    op = O.SessionPathOp("paths_evict", evict_on_watermark=True)

    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("paths_evict_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )

    def state_rows():
        p = q.lastProgress
        return sum(s["numRowsTotal"] for s in p["stateOperators"]) if p else None

    try:
        q.processAllAvailable()
        rows_t1 = state_rows()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        _write(spark.createDataFrame(rows3, schema), dirs["src"])
        q.processAllAvailable()
        rows_after = state_rows()
        got: dict[tuple, int] = {}
        for r in spark.sql("select * from paths_evict_stream").collect():
            k = (r["user_id"], r["path"])
            got[k] = got.get(k, 0) + r["delta"]
    finally:
        q.stop()
    # u1 held state after trigger 1; by the end only u2 remains — u1
    # was EVICTED once the watermark passed its gap (without eviction
    # the final count would be 2: per-user state never shrinks)
    assert rows_t1 == 1 and rows_after == 1, (rows_t1, rows_after)
    # outputs unaffected: u1's single 3-path, u2 never completed one
    assert got == {(1, "a > b > c"): 1}


def test_retention_matrix_watermark_eviction_bounds_state(spark, dirs):
    """RetentionMatrixOp(evict_on_watermark=True): a user whose
    retention window (cohort + 64 weeks) has fully passed under the
    watermark is FROZEN (timeout fired, no further timeouts), and —
    the regression this test pins — a frozen user who RETURNS emits
    NO spurious delta: their cohort is remembered, their comeback
    offset is ≥ the cap, and the streamed triangle stays exactly the
    batch twin's. (Full state removal would re-cohort the returner at
    week 70 and emit a bogus (70, 0, +1) the batch never produces.)"""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(days):
        return t0 + dt.timedelta(days=days)

    schema = "event_id long, event_type string, ts timestamp, user_id long"
    rows1 = [(0, "view", at(0), 1), (1, "view", at(7), 1)]  # offsets 0,1
    # user 2 appears 70 weeks later: advances the watermark past
    # user 1's whole 64-week window
    rows2 = [(2, "view", at(70 * 7), 2)]
    rows3 = [(3, "view", at(70 * 7 + 1), 2)]  # next trigger: timeout fires
    # u1 RETURNS after the freeze (same week as u2's tail, not late)
    rows4 = [(4, "view", at(70 * 7 + 1), 1)]
    op = O.RetentionMatrixOp("retmat_evict", evict_on_watermark=True)

    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("retmat_evict_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )

    def state_rows():
        p = q.lastProgress
        return sum(s["numRowsTotal"] for s in p["stateOperators"]) if p else None

    try:
        q.processAllAvailable()
        rows_t1 = state_rows()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        _write(spark.createDataFrame(rows3, schema), dirs["src"])
        q.processAllAvailable()
        _write(spark.createDataFrame(rows4, schema), dirs["src"])
        q.processAllAvailable()
        rows_end = state_rows()
        got: dict[tuple, int] = {}
        for r in spark.sql("select * from retmat_evict_stream").collect():
            k = (r["cohort_week"], r["week_offset"])
            got[k] = got.get(k, 0) + r["delta"]
    finally:
        q.stop()
    # u1's key is FROZEN, not dropped: both users keep their two-long
    # state (cohort identity is forever-information)
    assert rows_t1 == 1 and rows_end == 2, (rows_t1, rows_end)
    batch = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch
    offsets: dict[int, int] = {}
    for (_, off), v in got.items():
        offsets[off] = offsets.get(off, 0) + v
    # u1 offsets 0,1; u2 offset 0 — and NOTHING from u1's comeback
    # (a re-cohorted u1 would add a spurious offset-0 row)
    assert offsets == {0: 2, 1: 1}


def test_cusum_monitor_matches_batch_scan(spark, dirs):
    """CusumMonitorOp: under in-order arrival across two triggers, the
    LATEST per-type emission equals the batch window scan (same peak
    excursion, same earliest-peak tiebreak)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    # target 100 cents; values in dollars
    rows1 = [
        (0, "view", at(0), 2.00),   # dev +100 -> P=100, S=100
        (1, "view", at(1), 0.10),   # dev -90  -> P=10,  S=10
        (2, "view", at(2), 3.00),   # dev +200 -> P=210, S=210
    ]
    rows2 = [
        (3, "view", at(3), 0.10),   # dev -90  -> P=120, S=120
        (4, "view", at(4), 3.00),   # dev +200 -> P=320, S=320  <- peak
        (5, "view", at(5), 1.00),   # dev 0    -> S=320 (no replace)
    ]
    schema = "event_id long, event_type string, ts timestamp, value double"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.CusumMonitorOp("cusum", target_cents=100)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        latest = {}
        for r in spark.sql("select * from cusum_stream").collect():
            cur = latest.get(r["event_type"])
            if cur is None or r["n_events"] > cur["n_events"]:
                latest[r["event_type"]] = r
    finally:
        q.stop()
    batch = {
        r["event_type"]: r
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert set(latest) == set(batch)
    for t in batch:
        assert latest[t]["n_events"] == batch[t]["n_events"]
        assert latest[t]["max_cusum_c"] == batch[t]["max_cusum_c"] == 320
        assert latest[t]["peak_epoch_s"] == batch[t]["peak_epoch_s"]


def test_tail_topk_stream_equals_batch_any_order(spark, dirs):
    """TailTopKOp: the latest per-type top-k emission equals the batch
    rank window even with OUT-OF-ORDER arrival (top-k sets are
    order-free), including the (cents desc, event_id asc) tiebreak."""
    rows1 = [
        (0, "view", 5.00), (1, "view", 1.00), (2, "view", 9.00),
        (3, "click", 2.00),
    ]
    rows2 = [  # arrives "later" but holds larger + tied values
        (4, "view", 9.00), (5, "view", 7.00), (6, "view", 0.50),
        (7, "click", 8.00),
    ]
    schema = "event_id long, event_type string, value double"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.TailTopKOp("tail", k=3)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("tail_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        # emissions are full snapshots stamped with the monotone
        # n_seen counter: the max-n_seen snapshot per type is final
        # (order-free reconstruction — no reliance on sink row order)
        best_n: dict[str, int] = {}
        for r in spark.sql("select * from tail_stream").collect():
            t = r["event_type"]
            best_n[t] = max(best_n.get(t, 0), r["n_seen"])
        snap = {}
        for r in spark.sql("select * from tail_stream").collect():
            if r["n_seen"] == best_n[r["event_type"]]:
                snap[(r["event_type"], r["rank"])] = (r["cents"], r["event_id"])
    finally:
        q.stop()
    batch = {
        (r["event_type"], r["rank"]): (r["cents"], r["event_id"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert snap == batch
    # tie at 900 cents: event 2 beats event 4 on id
    assert batch[("view", 1)] == (900, 2)
    assert batch[("view", 2)] == (900, 4)
    assert batch[("view", 3)] == (700, 5)


def test_first_touch_stream_deltas_equal_batch(spark, dirs):
    """FirstTouchOp: summed (attributed_type, delta) across triggers
    equals the batch attribution counts under in-order arrival,
    including the 24h horizon (too-old events don't attribute) and the
    'direct' fallback."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(h):
        return t0 + dt.timedelta(hours=h)

    rows1 = [
        (0, "view", at(0), 1),       # user 1: first touch candidate
        (1, "click", at(1), 1),
        (2, "purchase", at(2), 1),   # -> view
        (3, "purchase", at(0), 2),   # user 2: nothing prior -> direct
    ]
    rows2 = [
        (4, "purchase", at(30), 1),  # view/click now >24h old; prior
                                     # purchase at h=2 also >24h -> direct
        (5, "signup", at(31), 1),
        (6, "purchase", at(32), 1),  # -> the h=30 purchase (earliest
                                     # in-window candidate — purchases
                                     # are events too)
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.FirstTouchOp("ft")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("ft_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[str, int] = {}
        for r in spark.sql("select * from ft_stream").collect():
            got[r["attributed_type"]] = got.get(r["attributed_type"], 0) + r["delta"]
    finally:
        q.stop()
    batch = {
        r["attributed_type"]: r["delta"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch
    assert batch == {"view": 1, "direct": 2, "purchase": 1}


def test_error_burst_stream_deltas_equal_batch_closed_runs(spark, dirs):
    """ErrorBurstOp: summed (run_len, delta) across triggers equals
    the batch islands histogram when every user's stream ends with a
    non-error (all runs closed) — including a run SPLIT across the
    trigger boundary, which must count once at its full length."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    rows1 = [
        (0, "error", at(0), 1),
        (1, "error", at(1), 1),   # open run of 2 at the boundary
        (2, "view", at(0), 2),
        (3, "error", at(1), 2),
    ]
    rows2 = [
        (4, "error", at(2), 1),   # continues user 1's run -> 3
        (5, "view", at(3), 1),    # closes it
        (6, "view", at(2), 2),    # closes user 2's run of 1
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.ErrorBurstOp("bursts")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("burst_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[int, int] = {}
        for r in spark.sql("select * from burst_stream").collect():
            got[r["run_len"]] = got.get(r["run_len"], 0) + r["delta"]
    finally:
        q.stop()
    batch = {
        r["run_len"]: r["delta"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch
    assert batch == {3: 1, 1: 1}  # the boundary-split run counts once, at 3


def test_last_touch_stream_deltas_equal_batch(spark, dirs):
    """LastTouchOp: summed (attributed_type, delta) across triggers
    equals the batch last-touch counts — the LATEST in-window event
    wins (vs FirstTouchOp's earliest), ties to the higher event_id,
    'direct' when nothing is in the 24h horizon."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(h):
        return t0 + dt.timedelta(hours=h)

    rows1 = [
        (0, "view", at(0), 1),
        (1, "click", at(1), 1),
        (2, "purchase", at(2), 1),   # last touch -> click (latest)
        (3, "purchase", at(0), 2),   # nothing prior -> direct
    ]
    rows2 = [
        (4, "purchase", at(30), 1),  # everything >24h old -> direct
        (5, "signup", at(31), 1),
        (6, "purchase", at(32), 1),  # -> signup (latest in window)
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.LastTouchOp("lt")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("lt_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[str, int] = {}
        for r in spark.sql("select * from lt_stream").collect():
            got[r["attributed_type"]] = got.get(r["attributed_type"], 0) + r["delta"]
    finally:
        q.stop()
    batch = {
        r["attributed_type"]: r["delta"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch
    assert batch == {"click": 1, "direct": 2, "signup": 1}


def test_linear_attribution_conserves_and_matches_batch(spark, dirs):
    """LinearAttributionOp: summed (attributed_type, delta_micro)
    across triggers equals the batch equal-split credits, each
    purchase's credit sums to EXACTLY 10^6 (floor share + remainder to
    the earliest candidate — integer conservation), and 'direct'
    purchases take the full 10^6."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def at(h):
        return t0 + dt.timedelta(hours=h)

    rows1 = [
        (0, "view", at(0), 1),
        (1, "click", at(1), 1),
        (2, "view", at(1, ), 1),    # 3 candidates for the purchase below
        (3, "purchase", at(2), 1),  # split 10^6 across view,click,view
        (4, "purchase", at(0), 2),  # direct
    ]
    rows2 = [
        (5, "purchase", at(30), 1),  # 24h horizon = (6h, 30h): nothing
                                     # in window -> direct
    ]
    schema = "event_id long, event_type string, ts timestamp, user_id long"
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.LinearAttributionOp("lin")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("lin_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got: dict[str, int] = {}
        for r in spark.sql("select * from lin_stream").collect():
            got[r["attributed_type"]] = (
                got.get(r["attributed_type"], 0) + r["delta_micro"]
            )
    finally:
        q.stop()
    batch = {
        r["attributed_type"]: r["delta_micro"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch
    # conservation: 3 purchases x 10^6 micro-credits, exactly
    assert sum(batch.values()) == 3 * 1_000_000
    # purchase at h=2: 3 candidates -> view gets 2 shares (+ remainder
    # to the EARLIEST candidate, event 0, a view), click one share
    share, rem = divmod(1_000_000, 3)
    assert batch["view"] == 2 * share + rem
    assert batch["click"] == share
    # the h=0 (user 2) purchase AND the h=30 one (empty 24h window,
    # state pruned in the stream twin) both fall back to direct
    assert batch["direct"] == 2 * 1_000_000
    assert "purchase" not in batch


def test_vocab_growth_stream_equals_batch(spark, dirs):
    """VocabGrowthOp: summed (token_delta, new_type_delta) per source
    across trigger boundaries equals the batch (n_tokens, n_types)
    census — a token first seen in batch 1 must NOT re-count as a new
    type when it reappears in batch 2."""
    schema = "doc_id long, source string, text string"
    rows1 = [
        (1, "web", "alpha beta alpha"),
        (2, "web", "beta gamma"),
        (3, "pdf", "alpha"),
    ]
    rows2 = [
        (4, "web", "alpha delta"),        # alpha is OLD, delta is NEW
        (5, "pdf", "alpha beta beta"),    # alpha old for pdf? no — pdf saw alpha
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.VocabGrowthOp("vocabmon")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("vocabmon_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got = spark.sql(
            "select source, sum(token_delta) as n_tokens,"
            " sum(new_type_delta) as n_types"
            " from vocabmon_stream group by source"
        ).collect()
    finally:
        q.stop()
    stream_tot = {r["source"]: (r["n_tokens"], r["n_types"]) for r in got}
    batch = {
        r["source"]: (r["n_tokens"], r["n_types"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    # web: 7 tokens over {alpha, beta, gamma, delta}; pdf: 4 over
    # {alpha, beta} — and alpha must not double-count as a new type
    # when it reappears in the second trigger
    assert stream_tot == batch == {"web": (7, 4), "pdf": (4, 2)}


def test_decontam_gate_stream_equals_batch(spark, dirs):
    """DecontamGateOp: summed (docs_delta, contaminated_delta) per
    source across triggers equals the batch census, and the LAST
    trigger's running totals ARE the batch twin's row. Contamination
    = any distinct 3-gram shingle in the blocklist; a clean doc from
    a source that was contaminated earlier must not re-flag."""
    schema = "doc_id long, source string, text string"
    block = ("alpha beta gamma",)  # one benchmark 3-gram
    rows1 = [
        (1, "web", "alpha beta gamma delta"),   # contaminated
        (2, "web", "delta epsilon zeta eta"),   # clean
        (3, "pdf", "no overlap here at all"),   # clean
    ]
    rows2 = [
        (4, "web", "zz alpha beta gamma"),      # contaminated again
        (5, "pdf", "still clean text run"),     # clean
        (6, "pdf", "alpha beta gamma"),         # contaminated (exact)
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])

    op = O.DecontamGateOp("decontam", blocklist=block, n=3)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("decontam_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        deltas = spark.sql(
            "select source, sum(docs_delta) as d, sum(contaminated_delta) as c"
            " from decontam_stream group by source"
        ).collect()
        finals = spark.sql(
            "select source, max_by(docs_total, docs_total) as d,"
            " max_by(contaminated_total, docs_total) as c"
            " from decontam_stream group by source"
        ).collect()
    finally:
        q.stop()
    stream_sum = {r["source"]: (r["d"], r["c"]) for r in deltas}
    stream_fin = {r["source"]: (r["d"], r["c"]) for r in finals}
    batch = {
        r["source"]: (r["n_docs"], r["n_contaminated"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert stream_sum == stream_fin == batch == {"web": (3, 2), "pdf": (3, 1)}


def test_decontam_gate_empty_blocklist_flags_nothing(spark):
    """Empty blocklist = nothing contaminated (the op must not crash
    building a zero-element literal array)."""
    df = spark.createDataFrame(
        [(1, "web", "alpha beta gamma")], "doc_id long, source string, text string"
    )
    got = O.DecontamGateOp("d0")(df).collect()
    assert [(r["source"], r["n_docs"], r["n_contaminated"]) for r in got] == [
        ("web", 1, 0)
    ]


def _h32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_interarrival_stream_equals_batch(spark, dirs):
    """InterarrivalStatsOp: the latest per-(user, type) emission equals
    the batch lag-window census — including the gap that SPANS the
    trigger boundary (last event of trigger 1 → first of trigger 2),
    which a stateless per-batch lag would drop."""
    from datetime import datetime

    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows1 = [
        (1, 1, "click", t(0)),
        (2, 1, "click", t(10)),
        (3, 2, "view", t(5)),   # single event: n_gaps must stay 0
    ]
    rows2 = [
        (4, 1, "click", t(25)),  # 15 s gap ACROSS the trigger boundary
        (5, 1, "click", t(27)),  # 2 s gap inside trigger 2
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.InterarrivalStatsOp("gaps")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("gaps_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        fin = spark.sql(
            "select user_id, event_type,"
            " max_by(n_gaps, n_gaps) as n, max_by(gap_sum_s, n_gaps) as s,"
            " max_by(gap_min_s, n_gaps) as mn, max_by(gap_max_s, n_gaps) as mx"
            " from gaps_stream group by user_id, event_type"
        ).collect()
    finally:
        q.stop()
    stream_fin = {
        (r["user_id"], r["event_type"]): (r["n"], r["s"], r["mn"], r["mx"])
        for r in fin
    }
    batch = {
        (r["user_id"], r["event_type"]): (
            r["n_gaps"],
            r["gap_sum_s"],
            r["gap_min_s"],
            r["gap_max_s"],
        )
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert stream_fin == batch == {
        (1, "click"): (3, 27, 2, 15),
        (2, "view"): (0, 0, None, None),
    }


def test_ewma_stream_equals_batch(spark, dirs):
    """EwmaMonitorOp: the integer EWMA recurrence folded across two
    triggers equals the batch SQL aggregate fold AND the hand-computed
    trunc-div recurrence."""
    from datetime import datetime

    schema = "event_id long, event_type string, ts timestamp, value double"

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows1 = [(1, "click", t(0), 10.0), (2, "click", t(1), 20.0)]
    rows2 = [(3, "click", t(2), 5.5), (4, "view", t(3), 7.0)]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.EwmaMonitorOp("ewma", alpha_num=2, alpha_den=10)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        fin = spark.sql(
            "select event_type, max_by(ewma_micro, n_events) as e,"
            " max(n_events) as n from ewma_stream group by event_type"
        ).collect()
    finally:
        q.stop()
    stream_fin = {r["event_type"]: (r["n"], r["e"]) for r in fin}
    batch = {
        r["event_type"]: (r["n_events"], r["ewma_micro"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    # hand fold: e = 10e6; e = (2*20e6 + 8*10e6) div 10 = 12e6;
    # e = (2*5.5e6 + 8*12e6) div 10 = 10_700_000
    assert stream_fin == batch == {
        "click": (3, 10_700_000),
        "view": (1, 7_000_000),
    }


def test_bottomk_sample_stream_equals_batch(spark, dirs):
    """BottomKSampleOp: the k smallest-hash doc ids per source are
    trigger-split invariant — a later doc with a smaller hash must
    EVICT a trigger-1 member, and the final sample equals the batch
    rank-by-hash sample."""
    schema = "doc_id long, source string"
    ids1, ids2 = [1, 2, 3, 4], [5, 6, 7, 8]
    rows1 = [(i, "web") for i in ids1]
    rows2 = [(i, "web") for i in ids2]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.BottomKSampleOp("panel", k=3)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("panel_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql(
            "select sample_ids from panel_stream where n_seen = 4"
        ).collect()[0]["sample_ids"]
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        final = spark.sql(
            "select sample_ids from panel_stream where n_seen = 8"
        ).collect()[0]["sample_ids"]
    finally:
        q.stop()
    batch = op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    assert len(batch) == 1 and batch[0]["n_seen"] == 8
    # expected: the 3 ids with smallest (hash32(str(id)), id) over ALL 8
    exp_all = [i for _, i in sorted((_h32(str(i)), i) for i in ids1 + ids2)][:3]
    exp_t1 = [i for _, i in sorted((_h32(str(i)), i) for i in ids1)][:3]
    assert list(batch[0]["sample_ids"]) == exp_all == list(final)
    assert list(first) == exp_t1
    # the fixture must actually exercise eviction across the boundary
    assert exp_all != exp_t1


def test_minhash_sketch_stream_equals_batch(spark, dirs):
    """MinHashSketchOp: elementwise-min signatures maintained across
    triggers equal the batch per-source minima, and two sources with
    identical shingle sets produce IDENTICAL signatures (live
    Jaccard = 1)."""
    schema = "doc_id long, source string, text string"
    rows1 = [
        (1, "web", "alpha beta gamma delta epsilon"),
        (2, "pdf", "alpha beta gamma delta epsilon"),
        (3, "web", "one two"),  # < 3 words: no shingles, must not count
    ]
    rows2 = [
        (4, "web", "zeta eta theta iota kappa"),
        (5, "pdf", "completely different text entirely here"),
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.MinHashSketchOp("mh", k=8, n=3)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("mh_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["source"]: (r["n_docs"], list(r["sig"]))
            for r in spark.sql(
                "select source, max_by(n_docs, n_docs) as n_docs,"
                " max_by(sig, n_docs) as sig from mh_stream group by source"
            ).collect()
        }
        # identical single-doc shingle sets -> identical signatures
        assert first["web"] == first["pdf"]
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        fin = {
            r["source"]: (r["n_docs"], list(r["sig"]))
            for r in spark.sql(
                "select source, max_by(n_docs, n_docs) as n_docs,"
                " max_by(sig, n_docs) as sig from mh_stream group by source"
            ).collect()
        }
    finally:
        q.stop()
    batch = {
        r["source"]: (r["n_docs"], list(r["sig"]))
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert fin == batch
    assert batch["web"][0] == 2 and batch["pdf"][0] == 2
    # trigger-2 docs must have lowered at least one element per source
    assert fin["web"][1] != first["web"][1] or fin["pdf"][1] != first["pdf"][1]
    # elementwise: final <= first (mins only go down)
    assert all(a <= b for a, b in zip(fin["web"][1], first["web"][1]))


def test_minhash_sketch_native_state_survives_restart(spark, dirs):
    """MinHashSketchOp keeps its per-source (n_docs, sig) in Spark's
    own state store: stop the query, append docs, restart from the
    same checkpoint, and the last emitted row per source equals the
    batch result over everything."""
    schema = "doc_id long, source string, text string"
    op = O.MinHashSketchOp("mh_restart", k=8, n=3)

    def start():
        src = spark.readStream.schema(schema).parquet(dirs["src"])

        def sink(bdf, bid):
            bdf.withColumn("bid", F.lit(bid)).write.mode("append").parquet(
                dirs["sink"]
            )

        return (
            op.stream_apply(src)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .start()
        )

    rows1 = [
        (1, "web", "alpha beta gamma delta epsilon"),
        (2, "pdf", "one two three four"),
        (3, "web", "too short"),
    ]
    rows2 = [
        (4, "web", "zeta eta theta iota kappa"),
        (5, "pdf", "alpha beta gamma delta"),
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    q = start()
    q.processAllAvailable()
    q.stop()
    _write(spark.createDataFrame(rows2, schema), dirs["src"])
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    last = {}
    for r in spark.read.parquet(dirs["sink"]).orderBy("bid").collect():
        last[r["source"]] = (r["n_docs"], list(r["sig"]))
    batch = {
        r["source"]: (r["n_docs"], list(r["sig"]))
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert last == batch
    assert batch["web"][0] == 2 and batch["pdf"][0] == 2


def test_algebraic_stream_ops_use_native_state(spark, dirs):
    """The ops whose row is a running aggregate plan a native streaming
    aggregation, not a Python-state fold."""
    schema = "doc_id long, source string, text string, lang string"
    _write(spark.createDataFrame([(1, "web", "a b c", "en")], schema), dirs["src"])
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    for op in (O.MinHashSketchOp("mh_plan"), O.CompletenessMonitorOp("cm_plan")):
        plan = op.stream_apply(stream)._jdf.queryExecution().analyzed().toString()
        assert "Aggregate" in plan, plan
        assert "FlatMapGroupsInPandasWithState" not in plan, plan


def test_misra_gries_stream_equals_batch(spark, dirs):
    """MisraGriesOp: the k-counter sketch folded across two triggers
    (doc_id-monotone arrival) equals the batch fold over the full
    (doc_id, pos)-ordered token stream, and the classical guarantees
    hold vs exact counts: every term with true count > n/(k+1) is
    present, and no kept count underestimates by more than n/(k+1)."""
    schema = "doc_id long, source string, text string"
    rows1 = [
        (1, "web", "the cat sat on the mat the end"),
        (2, "web", "the dog the cat a dog"),
        (3, "pdf", "x y x z x"),
    ]
    rows2 = [
        (4, "web", "the the the rare1 rare2 rare3"),
        (5, "pdf", "x q r s"),
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.MisraGriesOp("mg", k=3)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("mg_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        fin = {
            r["source"]: (r["n"], list(r["terms"]), list(r["counts"]))
            for r in spark.sql(
                "select source, max(n_tokens) as n,"
                " max_by(terms, n_tokens) as terms,"
                " max_by(counts, n_tokens) as counts"
                " from mg_stream group by source"
            ).collect()
        }
    finally:
        q.stop()
    full = spark.read.schema(schema).parquet(dirs["src"])
    batch = {
        r["source"]: (r["n_tokens"], list(r["terms"]), list(r["counts"]))
        for r in op(full).collect()
    }
    assert fin == batch
    # guarantees vs exact counts, per source
    from collections import Counter

    docs = sorted(
        ((r["doc_id"], r["source"], r["text"]) for r in full.collect())
    )
    for src in ("web", "pdf"):
        true = Counter(
            w.lower()
            for _, s, text in docs
            if s == src
            for w in text.split()
        )
        n, terms, counts = batch[src]
        assert n == sum(true.values())
        bound = n // (op.k + 1)
        kept = dict(zip(terms, counts))
        for t, c in true.items():
            if c > bound:
                assert t in kept, (src, t, c, bound)
        for t, c in kept.items():
            assert 0 < c <= true[t] and true[t] - c <= bound
    # 'the' dominates web (8 occurrences of 20 > 20//4): must be kept
    assert "the" in batch["web"][1]


def test_kmv_distinct_stream_equals_batch(spark, dirs):
    """KmvDistinctOp: the k smallest distinct hashes (and therefore
    the integer estimate) are trigger-split invariant and equal the
    batch twin; below k the estimate is EXACT; repeated ids must not
    inflate the sketch."""
    schema = "event_id long, event_type string, user_id long"
    # click: 12 distinct users arriving over two triggers, some twice
    rows1 = [(i, "click", 100 + (i % 8)) for i in range(16)]
    rows2 = [(100 + i, "click", 108 + i) for i in range(4)] + [
        (200, "view", 7),
        (201, "view", 7),
        (202, "view", 9),
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.KmvDistinctOp("kmv", k=6)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("kmv_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        fin = {
            r["key"]: (r["n"], r["sk"], r["est"])
            for r in spark.sql(
                "select key, max(n_seen) as n,"
                " max_by(sketch_size, n_seen) as sk,"
                " max_by(est_distinct, n_seen) as est"
                " from kmv_stream group by key"
            ).collect()
        }
    finally:
        q.stop()
    batch = {
        r["key"]: (r["n_seen"], r["sketch_size"], r["est_distinct"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert fin == batch
    # view: 2 distinct users < k -> exact
    assert batch["view"] == (3, 2, 2)
    # click: 12 distinct > k=6 -> sketch full; estimate from the 6th
    # smallest hash, computed independently here
    n, sk, est = batch["click"]
    assert (n, sk) == (20, 6)
    hs = sorted({_h32(str(100 + u)) for u in range(12)})
    assert est == 5 * (1 << 32) // hs[5]
    # KMV error bound is ~1/sqrt(k); with k=6 just sanity-band it
    assert 4 <= est <= 40


def test_loghist_quantile_stream_equals_batch(spark, dirs):
    """LogHistQuantileOp: the power-of-two histogram and its integer
    quantile read-out are trigger-split invariant and equal the batch
    twin bit-for-bit; estimates stay within one octave of the true
    percentile."""
    from datetime import datetime

    schema = "event_id long, event_type string, ts timestamp, value double"
    t0 = datetime(2024, 1, 1)
    # click values: cents 100..1600 geometric-ish spread over triggers
    vals1 = [1.0, 2.0, 3.0, 5.0, 8.0]
    vals2 = [0.5, 13.0, 16.0, 0.0]
    rows1 = [(i, "click", t0, v) for i, v in enumerate(vals1)]
    rows2 = [(10 + i, "click", t0, v) for i, v in enumerate(vals2)]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.LogHistQuantileOp("lh", qs=(50, 95))
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("lh_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        fin = {
            (r["event_type"], r["q"]): (r["nn"], r["est"])
            for r in spark.sql(
                "select event_type, q, max(n) as nn,"
                " max_by(est_cents, n) as est"
                " from lh_stream group by event_type, q"
            ).collect()
        }
    finally:
        q.stop()
    batch = {
        (r["event_type"], r["q"]): (r["n"], r["est_cents"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert fin == batch
    n, p50 = batch[("click", 50)]
    _, p95 = batch[("click", 95)]
    assert n == 9
    # true cents sorted: 0,50,100,200,300,500,800,1300,1600
    # p50: rank ceil(.5*9)=5 -> 300 in bucket 9 [256,512) midpoint 384
    assert p50 == 384
    # p95: rank ceil(.95*9)=9 -> 1600 in bucket 11 [1024,2048) mid 1536
    assert p95 == 1536
    # octave guarantee
    assert 300 / 2 < p50 < 300 * 2 and 1600 / 2 < p95 < 1600 * 2


def test_schema_drift_stream_equals_batch(spark, dirs):
    """SchemaDriftOp: summed per-(source, signature) deltas equal the
    batch census; a signature's FIRST appearance anywhere in the
    stream (and only that) carries is_new = 1 — a key-set seen in
    trigger 1 must not re-flag in trigger 2, while a novel key-set in
    trigger 2 must."""
    schema = "doc_id long, source string, props string"
    rows1 = [
        (1, "web", '{"k": 1}'),
        (2, "web", '{"k": 2}'),
        (3, "pdf", '{"k": 3, "v": 4}'),
    ]
    rows2 = [
        (4, "web", '{"k": 9}'),            # old signature: no flag
        (5, "web", '{"k": 1, "extra": 2}'),  # NEW signature: flag
        (6, "pdf", "not json at all"),       # invalid: its own bucket
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.SchemaDriftOp("drift")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("drift_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        rows = spark.sql(
            "select source, signature, sum(delta) as n, sum(is_new) as nw"
            " from drift_stream group by source, signature"
        ).collect()
    finally:
        q.stop()
    stream_census = {(r["source"], r["signature"]): (r["n"], r["nw"]) for r in rows}
    batch = {
        (r["source"], r["signature"]): r["n_docs"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert {k: v[0] for k, v in stream_census.items()} == batch
    assert batch == {
        ("web", "k"): 3,
        ("web", "extra,k"): 1,
        ("pdf", "k,v"): 1,
        ("pdf", "(invalid)"): 1,
    }
    # exactly one is_new per distinct (source, signature)
    assert all(v[1] == 1 for v in stream_census.values())


def test_dedup_gate_stream_equals_batch(spark, dirs):
    """DedupGateOp: per-fingerprint keep-first verdicts are identical
    between the stream (doc_id-monotone triggers) and the batch
    window — a duplicate arriving in trigger 2 must point at the
    trigger-1 keeper, not start a new group."""
    schema = "doc_id long, text string"
    rows1 = [
        (1, "Alpha  Beta"),
        (2, "gamma delta"),
        (3, "alpha beta"),     # dup of 1 after normalization
    ]
    rows2 = [
        (4, "ALPHA BETA"),     # dup of 1, across the trigger boundary
        (5, "fresh content"),
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.DedupGateOp("gate")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("gate_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got = {
            r["doc_id"]: (r["is_dup"], r["kept_doc_id"])
            for r in spark.sql("select * from gate_stream").collect()
        }
    finally:
        q.stop()
    batch = {
        r["doc_id"]: (r["is_dup"], r["kept_doc_id"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch == {
        1: (0, 1),
        2: (0, 2),
        3: (1, 1),
        4: (1, 1),
        5: (0, 5),
    }


def test_asof_enrich_stream_equals_batch(spark, dirs):
    """AsofEnrichOp: facts are enriched with the dimension in effect
    at-or-before their ts — including a fact in trigger 2 whose
    dimension update arrived in trigger 1 (state carry), a fact
    BEFORE any update (-1 fallback), and the equal-ts tie resolving
    dimension-first like the batch (ts, tag) sort."""
    from datetime import datetime

    schema = "user_id long, ts timestamp, tag int, event_id long, dim_id long"

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows1 = [
        (1, t(0), 1, 100, None),   # fact before any dim -> -1
        (1, t(5), 0, None, 50),    # dim update
        (1, t(5), 1, 101, None),   # equal-ts fact: sees dim 50
    ]
    rows2 = [
        (1, t(20), 1, 102, None),  # enriched from trigger-1 state
        (1, t(30), 0, None, 60),
        (1, t(40), 1, 103, None),  # sees the newer dim
        (2, t(40), 1, 200, None),  # other user: no dim ever -> -1
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.AsofEnrichOp("asof")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("asof_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        got = {
            r["event_id"]: (r["dim_id"], r["dim_sec"])
            for r in spark.sql("select * from asof_stream").collect()
        }
    finally:
        q.stop()
    batch = {
        r["event_id"]: (r["dim_id"], r["dim_sec"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    # dim_sec is the epoch of the dim update's ts (session-tz exact)
    ep_row = spark.sql(
        "select unix_timestamp(timestamp'2024-01-01 00:00:05') as a,"
        " unix_timestamp(timestamp'2024-01-01 00:00:30') as b"
    ).collect()[0]
    ep5, ep30 = ep_row["a"], ep_row["b"]
    assert got == batch == {
        100: (-1, -1),
        101: (50, ep5),
        102: (50, ep5),
        103: (60, ep30),
        200: (-1, -1),
    }


def test_bottomk_array_state_survives_restart(spark, dirs):
    """Array-valued state (BottomKSampleOp's hash/id pairs) must
    round-trip the checkpoint: kill the query, add data, restart —
    the recovered sample continues from the persisted k-minima, and
    the final sample equals the batch twin over everything."""
    schema = "doc_id long, source string"
    op = O.BottomKSampleOp("panel", k=3)

    def start():
        src = spark.readStream.schema(schema).parquet(dirs["src"])
        out = op.stream_apply(src)

        def sink(bdf, bid):
            if bdf.count():
                bdf.write.mode("append").parquet(dirs["sink"])

        return (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .start()
        )

    _write(spark.createDataFrame([(i, "web") for i in range(1, 5)], schema), dirs["src"])
    q = start()
    q.processAllAvailable()
    q.stop()
    _write(spark.createDataFrame([(i, "web") for i in range(5, 9)], schema), dirs["src"])
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(dirs["sink"]).collect()
    final = max(rows, key=lambda r: r["n_seen"])
    assert final["n_seen"] == 8  # recovered count, no loss/duplication
    batch = op(spark.read.schema(schema).parquet(dirs["src"])).collect()[0]
    assert list(final["sample_ids"]) == list(batch["sample_ids"])
    exp = [i for _, i in sorted((_h32(str(i)), i) for i in range(1, 9))][:3]
    assert list(final["sample_ids"]) == exp


def test_interarrival_pre1970_and_null_ts(spark, dirs):
    """Review fix: negative epochs (pre-1970) must still count gaps
    (no -1 sentinel), and NULL ts rows drop in both paths instead of
    poisoning the stream fold."""
    from datetime import datetime

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    rows1 = [
        (1, 1, "click", datetime(1969, 12, 31, 23, 59, 0)),
        (2, 1, "click", datetime(1969, 12, 31, 23, 59, 30)),
        (3, 1, "click", None),
    ]
    rows2 = [(4, 1, "click", datetime(1970, 1, 1, 0, 0, 10))]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.InterarrivalStatsOp("gaps69")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("gaps69_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        fin = spark.sql(
            "select max_by(n_gaps, n_gaps) as n, max_by(gap_sum_s, n_gaps) as s,"
            " max_by(gap_min_s, n_gaps) as mn, max_by(gap_max_s, n_gaps) as mx"
            " from gaps69_stream"
        ).collect()[0]
    finally:
        q.stop()
    batch = op(spark.read.schema(schema).parquet(dirs["src"])).collect()[0]
    got = (fin["n"], fin["s"], fin["mn"], fin["mx"])
    exp = (
        batch["n_gaps"],
        batch["gap_sum_s"],
        batch["gap_min_s"],
        batch["gap_max_s"],
    )
    # gaps: 30 s (inside 1969) and 40 s (crossing the epoch AND the
    # trigger boundary); the NULL-ts row contributes nothing
    assert got == exp == (2, 70, 30, 40)


def test_ewma_loghist_null_values_drop(spark):
    """Review fix: NULL event values drop in both ops' batch paths
    (and by the shared _base, the stream paths) instead of crashing
    the Arrow fold with int(NaN)."""
    from datetime import datetime

    schema = "event_id long, event_type string, ts timestamp, value double"
    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, "click", t0, 10.0), (2, "click", t0, None), (3, "click", None, 4.0)],
        schema,
    )
    e = O.EwmaMonitorOp("e")(df).collect()
    assert [(r["n_events"], r["ewma_micro"]) for r in e] == [(1, 10_000_000)]
    lh = O.LogHistQuantileOp("l", qs=(50,))(df).collect()
    # 2 usable values (NULL value drops; NULL ts is fine for LogHist)
    assert [(r["n"], r["q"]) for r in lh] == [(2, 50)]


def test_asof_enrich_same_second_dim_ties(spark, dirs):
    """Review fix: two dim updates inside the SAME epoch second must
    resolve identically in stream and batch (unique (sec, tag, seq)
    order) — the higher dim_id wins as the later same-second row."""
    from datetime import datetime

    schema = "user_id long, ts timestamp, tag int, event_id long, dim_id long"
    t5 = datetime(2024, 1, 1, 0, 0, 5)
    rows = [
        (1, t5, 0, None, 50),
        (1, t5, 0, None, 60),   # same second: seq tiebreak -> 60 wins
        (1, datetime(2024, 1, 1, 0, 0, 9), 1, 100, None),
    ]
    _write(spark.createDataFrame(rows, schema), dirs["src"])
    op = O.AsofEnrichOp("asof_tie")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("asof_tie_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["event_id"]: r["dim_id"]
            for r in spark.sql("select * from asof_tie_stream").collect()
        }
    finally:
        q.stop()
    batch = {
        r["event_id"]: r["dim_id"]
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert got == batch == {100: 60}


def test_dedup_gate_fullwidth_fingerprint(spark):
    """Review fix: the gate keys on the FULL md5 (the dedup_exact
    grouping key), not a 32-bit prefix — distinct texts get distinct
    fingerprints and string fps survive the batch window."""
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "AAA ")], "doc_id long, text string"
    )
    rows = O.DedupGateOp("g")(df).collect()
    fps = {r["doc_id"]: r["fp"] for r in rows}
    assert fps[1] == fps[3] != fps[2]
    assert all(len(f) == 32 for f in fps.values())
    assert {r["doc_id"]: (r["is_dup"], r["kept_doc_id"]) for r in rows} == {
        1: (0, 1),
        2: (0, 2),
        3: (1, 1),
    }


def test_order_sensitive_ops_sort_within_trigger(spark, dirs):
    """The in-order contract is per-key EVENT-TIME order across
    triggers — WITHIN a trigger the ops must sort for themselves.
    Feed one trigger with rows scrambled in file order and check
    EwmaMonitorOp and InterarrivalStatsOp still equal their batch
    twins (which sort by construction)."""
    from datetime import datetime

    schema = "event_id long, event_type string, ts timestamp, value double"

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    # scrambled: ts order is 3,1,2 in arrival order within the trigger
    rows = [
        (3, "click", t(20), 30.0),
        (1, "click", t(0), 10.0),
        (2, "click", t(10), 20.0),
    ]
    _write(spark.createDataFrame(rows, schema), dirs["src"])
    op = O.EwmaMonitorOp("ew_scr", alpha_num=2, alpha_den=10)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("ew_scr_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "select max(n_events) as n, max_by(ewma_micro, n_events) as e"
            " from ew_scr_stream"
        ).collect()[0]
    finally:
        q.stop()
    batch = op(spark.read.schema(schema).parquet(dirs["src"])).collect()[0]
    # time-ordered fold: e=10e6 -> (2*20e6+8*10e6)div10=12e6
    #                    -> (2*30e6+8*12e6)div10=15.6e6
    assert (got["n"], got["e"]) == (
        batch["n_events"],
        batch["ewma_micro"],
    ) == (3, 15_600_000)

    # same scrambled trigger through the gap tracker
    schema2 = "event_id long, user_id long, event_type string, ts timestamp"
    rows2 = [(3, 1, "c", t(20)), (1, 1, "c", t(0)), (2, 1, "c", t(10))]
    src2 = dirs["src"] + "_gaps"
    _write(spark.createDataFrame(rows2, schema2), src2)
    op2 = O.InterarrivalStatsOp("ia_scr")
    stream2 = spark.readStream.schema(schema2).parquet(src2)
    q2 = (
        op2.stream_apply(stream2)
        .writeStream.format("memory")
        .queryName("ia_scr_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"] + "_gaps")
        .start()
    )
    try:
        q2.processAllAvailable()
        g = spark.sql(
            "select max(n_gaps) as n, max_by(gap_sum_s, n_gaps) as s"
            " from ia_scr_stream"
        ).collect()[0]
    finally:
        q2.stop()
    b = op2(spark.read.schema(schema2).parquet(src2)).collect()[0]
    assert (g["n"], g["s"]) == (b["n_gaps"], b["gap_sum_s"]) == (2, 20)


def test_priority_sample_stream_equals_batch(spark, dirs):
    """PrioritySampleOp: the k largest-priority docs per source are
    trigger-split invariant — a later heavy doc must EVICT a
    trigger-1 member — and the final sample, weights, and priorities
    equal the batch twin's rank-by-priority sample."""
    schema = "doc_id long, source string, n_chars long"
    rows1 = [(1, "web", 10), (2, "web", 2000), (3, "web", 5), (4, "web", 40)]
    rows2 = [(5, "web", 9000), (6, "web", 1), (7, "web", 7000), (8, "web", 3)]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.PrioritySampleOp("wpanel", k=3)
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("wpanel_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql(
            "select sample_ids from wpanel_stream where n_seen = 4"
        ).collect()[0]["sample_ids"]
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        fin = spark.sql(
            "select sample_ids, sample_weights, sample_priorities"
            " from wpanel_stream where n_seen = 8"
        ).collect()[0]
    finally:
        q.stop()

    def pri(i, w):
        return (w << 32) // (_h32(str(i)) + 1)

    def expect(rows):
        ts = sorted((-pri(i, w), _h32(str(i)), i, w) for i, _, w in rows)[:3]
        return [t[2] for t in ts], [t[3] for t in ts], [-t[0] for t in ts]

    exp_ids, exp_ws, exp_ps = expect(rows1 + rows2)
    exp_t1 = expect(rows1)[0]
    assert list(first) == exp_t1
    assert list(fin["sample_ids"]) == exp_ids
    assert list(fin["sample_weights"]) == exp_ws
    assert list(fin["sample_priorities"]) == exp_ps
    # the fixture must actually exercise eviction across the boundary
    assert exp_ids != exp_t1

    batch = op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    assert len(batch) == 1 and batch[0]["n_seen"] == 8
    assert list(batch[0]["sample_ids"]) == exp_ids
    assert list(batch[0]["sample_priorities"]) == exp_ps


def test_loghist_weighted_stream_equals_batch(spark, dirs):
    """LogHistQuantileOp with weight_col (r9 s3): the WEIGHTED
    histogram fold is trigger-split invariant, equals the batch twin
    bit-for-bit, and the rank walk runs on mass — one heavy row must
    drag the median to its own bucket even though most ROWS are
    small, and n must report total weight, not row count."""
    from datetime import datetime

    schema = (
        "event_id long, event_type string, ts timestamp,"
        " value double, w long"
    )
    t0 = datetime(2024, 1, 1)
    # 4 small rows (weight 1 each) + one heavy row (weight 96):
    # unweighted median would sit in the small cluster; weighted
    # median must land in the heavy row's bucket
    rows1 = [(1, "doc", t0, 1.0, 1), (2, "doc", t0, 2.0, 1)]
    rows2 = [
        (3, "doc", t0, 3.0, 1),
        (4, "doc", t0, 2.0, 1),
        (5, "doc", t0, 80.0, 96),
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.LogHistQuantileOp("lhw", qs=(50,), weight_col="w")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("lhw_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        fin = {
            (r["event_type"], r["q"]): (r["nn"], r["est"])
            for r in spark.sql(
                "select event_type, q, max(n) as nn,"
                " max_by(est_cents, n) as est"
                " from lhw_stream group by event_type, q"
            ).collect()
        }
    finally:
        q.stop()
    batch = {
        (r["event_type"], r["q"]): (r["n"], r["est_cents"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert fin == batch
    n, p50 = batch[("doc", 50)]
    assert n == 100  # total MASS: 4 + 96
    # rank ceil(.5*100)=50 lands in the heavy row's bucket:
    # 8000 cents -> bucket 13 [4096,8192), midpoint 6144
    assert p50 == 6144


def test_completeness_monitor_stream_equals_batch(spark, dirs):
    """CompletenessMonitorOp: per-(key, column) missing counters are
    trigger-split invariant and the final emission equals the batch
    twin — planted NULLs and blank strings in different triggers all
    land, clean columns stay zero."""
    schema = "doc_id long, source string, text string, lang string"
    rows1 = [
        (1, "web", "hello", "en"),
        (2, "web", "   ", "en"),
        (3, "pdf", None, "de"),
    ]
    rows2 = [
        (4, "web", "more", None),
        (5, "web", "", "en"),
        (6, "pdf", "ok", "de"),
    ]
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    op = O.CompletenessMonitorOp("cm")
    stream = spark.readStream.schema(schema).parquet(dirs["src"])
    q = (
        op.stream_apply(stream)
        .writeStream.format("memory")
        .queryName("cm_stream")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .start()
    )
    try:
        q.processAllAvailable()
        _write(spark.createDataFrame(rows2, schema), dirs["src"])
        q.processAllAvailable()
        fin = {
            (r["key"], r["column_name"]): (r["nn"], r["m"])
            for r in spark.sql(
                "select key, column_name, max(n_rows) as nn,"
                " max_by(n_missing, n_rows) as m"
                " from cm_stream group by key, column_name"
            ).collect()
        }
    finally:
        q.stop()
    batch = {
        (r["key"], r["column_name"]): (r["n_rows"], r["n_missing"])
        for r in op(spark.read.schema(schema).parquet(dirs["src"])).collect()
    }
    assert fin == batch
    assert batch == {
        ("web", "text"): (4, 2),   # "   " and ""
        ("web", "lang"): (4, 1),   # one NULL lang
        ("pdf", "text"): (2, 1),   # one NULL text
        ("pdf", "lang"): (2, 0),
    }


def test_priority_sample_state_survives_restart(spark, dirs):
    """PrioritySampleOp's four-array state (neg-priorities, hashes,
    ids, weights) must round-trip the checkpoint: kill the query, add
    a heavier doc, restart — the recovered panel evicts correctly and
    the final sample equals the batch twin over everything."""
    schema = "doc_id long, source string, n_chars long"
    op = O.PrioritySampleOp("wpanel", k=2)

    def start():
        src = spark.readStream.schema(schema).parquet(dirs["src"])
        out = op.stream_apply(src)

        def sink(bdf, bid):
            if bdf.count():
                bdf.write.mode("append").parquet(dirs["sink"])

        return (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .start()
        )

    rows1 = [(1, "web", 10), (2, "web", 50), (3, "web", 20)]
    rows2 = [(4, "web", 100000)]  # must evict a pre-restart member
    _write(spark.createDataFrame(rows1, schema), dirs["src"])
    q = start()
    q.processAllAvailable()
    q.stop()
    _write(spark.createDataFrame(rows2, schema), dirs["src"])
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(dirs["sink"]).collect()
    final = max(rows, key=lambda r: r["n_seen"])
    assert final["n_seen"] == 4  # recovered count, no loss/duplication
    batch = op(spark.read.schema(schema).parquet(dirs["src"])).collect()[0]
    assert list(final["sample_ids"]) == list(batch["sample_ids"])
    assert list(final["sample_priorities"]) == list(batch["sample_priorities"])
    assert 4 in list(final["sample_ids"])  # the post-restart heavy doc landed


def test_session_uses_small_tungsten_pages(spark):
    """get_spark's page size reaches the memory manager: a Python
    runner keeps a finished task's last page reachable for up to 2 s,
    so each stateful-stream task pins 1 MB, not the 64 MB Spark would
    derive from an 8 GB heap."""
    mm = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    assert mm.pageSizeBytes() == 1 << 20


def test_session_reuses_generated_classes_across_warm_queries(spark):
    """get_spark's generated-class cache holds a working set of short
    queries: once ~120 distinct plans have run, running them again
    compiles nothing. At Spark's default of 100 entries the second
    round evicts and recompiles them through Janino."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
    # The literal is inlined into the generated code, so each plan is
    # its own cache key.
    plans = [spark.range(8).selectExpr(f"id * {i} + {i} AS x").filter(f"x > {i}") for i in range(120)]
    for df in plans:
        df.write.format("noop").mode("overwrite").save()
    before = compiles.getCount()
    for df in plans:
        df.write.format("noop").mode("overwrite").save()
    assert compiles.getCount() - before == 0


def test_session_broadcasts_a_small_value_into_a_small_block(spark):
    """A broadcast allocates one whole spark.broadcast.blockSize block
    before it writes its first byte; get_spark's 1 MB blocks keep a
    tiny broadcast (and so each stage's task binary) under 2 MB of
    allocation on the calling JVM thread, against 4 MB at Spark's
    default. Py4J runs each Python thread's calls on one JVM thread, so
    the thread's allocation counter brackets the broadcast."""
    sc = spark.sparkContext
    mx = sc._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    sc.broadcast([0]).destroy()  # warm-up: Py4J method lookups, class loading
    before = mx.getCurrentThreadAllocatedBytes()
    b = sc.broadcast([1, 2, 3])
    allocated = mx.getCurrentThreadAllocatedBytes() - before
    b.destroy()
    assert allocated < 2 << 20, allocated


def test_default_shuffle_partitions_follow_usable_cores():
    """With SPARK_GRAFT_CPUS unset, get_spark sizes shuffle (and so
    state-store) partitions to the cores this process may run on, not
    a fixed count. Runs in a fresh interpreter: the test session
    already exists and getOrCreate would return it."""
    import os
    import subprocess
    import sys

    code = (
        "from distributed_file_system_with_stream_processing_spark.session "
        "import get_spark\n"
        "s = get_spark(app_name='partitions-default')\n"
        "print(s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    assert out.stdout.strip().splitlines()[-1] == str(len(os.sched_getaffinity(0)))
