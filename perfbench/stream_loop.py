"""The open-loop rainstorm_store workload: the paper's end-to-end loop.

A generator thread appends seeded ``(seq_no, category, kind, value)``
batches to a TableStore source table on a fixed schedule;
``RainStormJob(filter_equals("kind", "keep"), StatefulCountOp(["category"]))
.start_store_stream`` appends its running-count update log to a dest
table; a leader thread reads the running totals back with
``TableStore.get`` and a per-category max. Then the job is stopped, a
fixed backlog appended, and the job restarted from its checkpoint and
drained. Last, with the job stopped, its batch twin runs over the source
table: the op whose JVM allocation the workload reports.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time

from datagen import stream_batches
from harness import NO_TRACE, Bench, pct, tree_cpu_s
from tracing import SPARK_TOTALS, SparkStatus, Tracer

STREAM_ROWS = 1_000          # rows per open-loop append
STREAM_RATE = 1.0            # appends per second: far below the ~9,000 rows/s the job drains,
                             # and slow enough that a contended append rarely overruns its period
BACKLOG_ROWS = 40_000        # rows appended while the job is stopped
TWIN_RUNS = 3                # timed runs of the batch twin; the median is reported
STREAM_KEEP = "keep"         # op1 filter value
LEADER_PERIOD_S = 2.0        # the leader starts a read at most this often
SWEEP_RATES = (1.0, 2.0, 3.0)  # appends/s; each for half of ``seconds`` (traced run)
IN_SCHEMA = "seq_no long, category string, kind string, value double"
OUT_SCHEMA = "category string, total long, delta long"
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class StreamRig:
    """A TableStore with the source and dest tables, the pre-generated
    append batches, and the RainStormJob over them."""

    def __init__(self, b: Bench):
        import pandas as pd

        from distributed_file_system_with_stream_processing_spark.dfs import TableStore
        from distributed_file_system_with_stream_processing_spark.streaming import ops as O
        from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
            RainStormJob,
        )

        self.b = b
        spark = b.spark
        self.root = os.path.join(b.work, "store")
        self.ckpt = os.path.join(b.work, "ckpt")
        # the generator publishes under the append lock, so the job never
        # sees a half-written batch
        self.store = TableStore(spark, self.root, serialize_appends=True)
        self.reader = TableStore(spark, self.root)  # the leader's own handle
        self.store.create("src", spark.createDataFrame([], IN_SCHEMA))
        self.store.create("dst", spark.createDataFrame([], OUT_SCHEMA))
        rows = 200 if b.args.smoke else STREAM_ROWS
        self.backlog_rows = 1_000 if b.args.smoke else BACKLOG_ROWS
        n = int(STREAM_RATE * b.args.seconds * (1 + 2 * b.args.trace)) + 8
        if b.args.trace:
            n += int(sum(SWEEP_RATES) * b.args.seconds / 2) + 8
        self.batches = [pd.DataFrame(x) for x in stream_batches(n, rows, b.args.seed)]
        self.backlog = pd.DataFrame(stream_batches(1, self.backlog_rows, b.args.seed + 1)[0])
        self.rows = rows
        self.next_batch = 0
        self.rows_appended = 0
        self.keep_appended = 0
        self.job = RainStormJob(
            O.filter_equals("kind", STREAM_KEEP), O.StatefulCountOp("op2", ["category"])
        )
        self.progress: list[dict] = []  # every stopped query's progress
        self.run_ids: set[str] = set()
        self.q = None

    def start(self) -> None:
        self.q = self.job.start_store_stream(self.b.spark, self.root, "src", "dst", self.ckpt)
        self.run_ids.add(str(self.q.runId))

    def stop(self) -> None:
        self.progress += [json.loads(p.json) for p in self.q.recentProgress]
        self.q.stop()

    def append(self, tracer: Tracer, op_id: str, pdf=None) -> str:
        if pdf is None:
            pdf = self.batches[self.next_batch]
            self.next_batch += 1
        with tracer.span("dfs.append", op_id):
            seq = self.store.append(
                "src", self.b.spark.createDataFrame(pdf, IN_SCHEMA).coalesce(1)
            )
        self.rows_appended += len(pdf)
        self.keep_appended += int((pdf["kind"] == STREAM_KEEP).sum())
        return seq


def _trigger_start(p: dict) -> float:
    return dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _trigger_ends(progress: list[dict]) -> list[tuple[float, str]]:
    """(end time, end offset seq) of every trigger that read rows, in order."""
    out = []
    for p in progress:
        if p["numInputRows"] > 0:
            end_off = p["sources"][0]["endOffset"]
            if isinstance(end_off, str):
                end_off = json.loads(end_off)
            end = _trigger_start(p) + p["durationMs"]["triggerExecution"] / 1e3
            out.append((end, end_off["seq"]))
    return sorted(out)


def _emit_latencies(appends: list[dict], ends: list[tuple[float, str]]) -> list[float]:
    """Per append: from its due time to the end of the first trigger whose
    source offset range covers its seq."""
    out = []
    for a in appends:
        end = next((e for e, seq in ends if seq >= a["seq"]), None)
        if end is not None:
            out.append(end - a["due"])
    return out


def _backlog_max(appends: list[dict], ends: list[tuple[float, str]]) -> int:
    """Max over append completions of (appends published − appends covered
    by a finished trigger)."""
    worst = 0
    for a in appends:
        published = sum(x["end"] <= a["end"] for x in appends)
        covered = sum(any(e <= a["end"] and s >= x["seq"] for e, s in ends) for x in appends)
        worst = max(worst, published - covered)
    return worst


def _open_loop(b: Bench, rig: StreamRig, tracer: Tracer, seconds: float, rate: float,
               leader: bool) -> dict:
    """The generator appends at ``rate`` for ``seconds`` whatever the job
    does; the optional leader reads the running totals meanwhile. Then
    every append is drained, so each one has an emit time."""
    appends: list[dict] = []
    reads: list[dict] = []
    stop = threading.Event()
    F = b.F

    def gen():
        b.sc.setJobGroup("load", "append generator")
        t0 = time.time()
        for i in range(int(seconds * rate)):
            due = t0 + i / rate
            time.sleep(max(0.0, due - time.time()))
            rid = b.op_id("append")
            start = time.time()
            with tracer.span("load.append", rid):
                seq = b.attempt(rig.append, tracer, rid)
            if seq is not None:
                appends.append({"due": due, "start": start, "end": time.time(), "seq": seq})

    def read(rid: str, t: float) -> dict:
        with tracer.span("dfs.get", rid):
            df = rig.reader.get("dst")
            pending = len(rig.reader.ls("dst")["pending_appends"])
        g = time.time()
        with tracer.span("spark.action", rid):
            df.groupBy("category").agg(F.max("total")).collect()
        return {"s": time.time() - t, "pending": pending, "get_s": g - t, "action_s": time.time() - g}

    def lead():
        b.sc.setJobGroup("leader", "leader reads")
        while not stop.is_set():
            t = time.time()
            r = b.attempt(read, b.op_id("read"), t)
            if r is not None:
                reads.append(r)
            stop.wait(max(0.0, LEADER_PERIOD_S - (time.time() - t)))

    t0 = time.time()
    c0 = tree_cpu_s()
    threads = [threading.Thread(target=gen)] + ([threading.Thread(target=lead)] if leader else [])
    for th in threads:
        th.start()
    threads[0].join()
    stop.set()
    for th in threads[1:]:
        th.join()
    rig.q.processAllAvailable()
    cpu = tree_cpu_s() - c0
    prog = [json.loads(p.json) for p in rig.q.recentProgress]
    ends = _trigger_ends(prog)
    emit = _emit_latencies(appends, ends)
    if len(emit) != len(appends):
        b.mismatches.append("an append was never covered by a trigger")
    return {"appends": appends, "reads": reads, "emit": emit, "ends": ends, "t0": t0, "cpu": cpu,
            "progress": [p for p in prog if _trigger_start(p) >= t0]}


def _restart(b: Bench, rig: StreamRig, tracer: Tracer) -> tuple[float, float, float]:
    """Stop the job, append the backlog, restart the job from its
    checkpoint and drain it. Returns (seconds from restart to drained,
    CPU seconds the program spent on it, rows read per second of trigger
    time while draining)."""
    rig.stop()
    rid = b.op_id("append")
    with tracer.span("load.append", rid):
        b.attempt(rig.append, tracer, rid, rig.backlog)
    rid = b.op_id("restart")
    t, c = time.time(), tree_cpu_s()
    with tracer.span("streaming.restart", rid):
        rig.start()
        rig.q.processAllAvailable()
    restart_s, cpu = time.time() - t, tree_cpu_s() - c
    data = [p for p in rig.q.recentProgress if p.numInputRows > 0]
    trigger_s = sum(p.durationMs["triggerExecution"] for p in data) / 1e3
    return restart_s, cpu, sum(p.numInputRows for p in data) / trigger_s


def _batch_twin(b: Bench, rig: StreamRig) -> dict[str, int]:
    """The job's batch twin over everything the source table holds, with
    the stream stopped: ``TableStore.get`` merges the source's appends and
    ``RainStormJob.run_batch`` runs the same ops. One untimed run warms the
    JIT, then TWIN_RUNS timed ones. Returns category -> total."""
    b.sc.setJobGroup("twin", "batch twin")
    runs = []
    for i in range(TWIN_RUNS + 1):
        t, c, a = time.perf_counter(), tree_cpu_s(), b.jvm_alloc_mb()
        rows = b.attempt(lambda: rig.job.run_batch(rig.reader.get("src")).collect())
        if i and rows is not None:
            runs.append((time.perf_counter() - t, tree_cpu_s() - c, b.jvm_alloc_mb() - a))
    if runs:
        twin_s, cpu, alloc = (statistics.median(x) for x in zip(*runs))
        b.report["twin_s"] = (twin_s, "s", len(runs))
        b.report["op_cpu_s"] = (cpu, "s", len(runs))
        b.report["op_alloc_mb"] = (alloc, "MB", len(runs))
    return {r["category"]: r["total"] for r in rows or []}


def _rate_sweep(b: Bench, rig: StreamRig) -> list[dict]:
    """Fixed rates in turn; a rate is sustainable when the generator keeps
    its schedule and emit latency does not grow across the phase."""
    out = []
    for rate in SWEEP_RATES:
        r = _open_loop(b, rig, NO_TRACE, b.args.seconds / 2, rate, leader=False)
        emit = r["emit"]
        late = max((a["start"] - a["due"] for a in r["appends"]), default=0.0)
        half = len(emit) // 2
        grows = half > 0 and statistics.mean(emit[half:]) > 1.5 * statistics.mean(emit[:half])
        out.append({"appends_per_s": rate, "rows_per_s": rate * rig.rows,
                    "sustainable": late < 1.0 / rate and not grows,
                    "late_max_s": late, "emit_p50_s": pct(emit, 50) if emit else None})
    return out


def _check(b: Bench, rig: StreamRig, want: dict[str, int]) -> int:
    """The dest's converged per-category max(total) equals the batch twin
    over the source; every appended row was read exactly once across the
    restart; the deltas sum to the filtered rows. Returns rows read."""
    F = b.F
    b.sc.setJobGroup("check", "stream check")
    dst = rig.reader.get("dst").groupBy("category").agg(F.max("total"), F.sum("delta"))
    got = {r[0]: (r[1], r[2]) for r in dst.collect()}
    if {k: v[0] for k, v in got.items()} != want:
        b.mismatches.append("dest totals != RainStormJob.run_batch over the source")
    rows_in = sum(p["numInputRows"] for p in rig.progress)
    if rows_in != rig.rows_appended:
        b.mismatches.append(f"rows read {rows_in} != rows appended {rig.rows_appended}")
    deltas = sum(v[1] for v in got.values())
    if deltas != rig.keep_appended:
        b.mismatches.append(f"delta sum {deltas} != filtered rows {rig.keep_appended}")
    return rows_in


def _layers(b: Bench, rig: StreamRig, tracer: Tracer, status: SparkStatus, traced: dict,
            drain_s: float, rows_in: int, sweep: list[dict]) -> None:
    """Per-layer numbers of the traced open-loop phase."""
    prog = traced["progress"]
    data = [p for p in prog if p["numInputRows"] > 0]
    for p in prog:  # one trigger span, its durationMs phases as children
        rid = f"trigger-{p['batchId']}"
        at = _trigger_start(p)
        tracer.add("streaming.trigger", rid, at, at + p["durationMs"]["triggerExecution"] / 1e3, None)
        for ph in PHASES:
            d = p["durationMs"].get(ph, 0) / 1e3
            tracer.add(f"streaming.{ph}", rid, at, at + d, "streaming.trigger")
            at += d

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def dur(k):  # a mean: Spark reports trigger phases in whole ms
        return statistics.fmean([p["durationMs"].get(k, 0) / 1e3 for p in data]) if data else 0.0

    state = [p["stateOperators"][0] for p in data if p["stateOperators"]]
    appends, reads = traced["appends"], traced["reads"]
    late = [a["start"] - a["due"] for a in appends]
    b.layer.update({
        "streaming.triggers": len(prog),
        "streaming.nonempty_trigger_ratio": len(data) / max(1, len(prog)),
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.latest_offset_s": dur("latestOffset"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.commit_offsets_s": dur("commitOffsets"),
        "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state_mem_bytes": state[-1]["memoryUsedBytes"] if state else 0,
        "streaming.state_commit_s": med([s["commitTimeMs"] / 1e3 for s in state]),
        "streaming.restart_s": drain_s,
        "streaming.rows_in": rows_in,
        "streaming.backlog_appends": _backlog_max(appends, traced["ends"]),
        "dfs.append_s": med([a["end"] - a["start"] for a in appends]),
        "dfs.src_batches": len(rig.reader.ls("src")["pending_appends"]),
        "dfs.get_s": med([r["get_s"] for r in reads]),
        "dfs.read_action_s": med([r["action_s"] for r in reads]),
        "dfs.pending_batches": max((r["pending"] for r in reads), default=0),
        "load.late_p50_s": med(late),
        "load.late_max_s": max(late, default=0.0),
        "load.appends_due": int(STREAM_RATE * b.args.seconds),
        "load.appends_done": len(appends),
        "stream.max_sustainable_rows_per_s": max(
            (s["rows_per_s"] for s in sweep if s["sustainable"]), default=0.0),
    })
    status.settle()
    st = status.group_totals({"load", "leader"} | rig.run_ids, since=traced["t0"])
    ops = len(appends) + len(reads) + len(data)
    for k in SPARK_TOTALS:
        b.layer[f"spark.{k}"] = st[k] / max(1, ops)
    b.extra["per_stage"] = st["per_stage"]
    b.extra["rate_sweep"] = sweep


def run_rainstorm(b: Bench, rig: StreamRig, tracer: Tracer, status: SparkStatus | None) -> None:
    res = _open_loop(b, rig, NO_TRACE, b.args.seconds, STREAM_RATE, leader=True)
    appends, emit = res["appends"], res["emit"]
    append_s = [a["end"] - a["due"] for a in appends]
    read_s = [r["s"] for r in res["reads"]]
    b.report["emit_latency_p50_s"] = (pct(emit, 50), "s", len(emit))
    b.report["emit_latency_p90_s"] = (pct(emit, 90), "s", len(emit))
    b.report["append_p50_s"] = (pct(append_s, 50), "s", len(append_s))
    b.report["append_p90_s"] = (pct(append_s, 90), "s", len(append_s))
    b.report["read_p50_s"] = (pct(read_s, 50), "s", len(read_s))
    b.report["read_p90_s"] = (pct(read_s, 90), "s", len(read_s))
    b.report["open_loop_cpu_s"] = (res["cpu"], "s", len(appends))
    b.report["generator_late_max_s"] = (max(a["start"] - a["due"] for a in appends), "s", len(appends))
    b.mark("open_loop")
    b.heap_retained()  # the job is still running: its state is live
    traced = None
    if tracer.enabled:
        traced = _open_loop(b, rig, tracer, b.args.seconds, STREAM_RATE, leader=True)
        after = _open_loop(b, rig, NO_TRACE, b.args.seconds, STREAM_RATE, leader=True)
        # against the untraced windows just before and just after, so the
        # growing dest and state do not count as tracing overhead
        b.layer["trace.overhead_ratio"] = pct(traced["emit"], 50) / (
            (pct(emit, 50) + pct(after["emit"], 50)) / 2) - 1.0
        b.mark("traced")

    drain_s, drain_cpu, processed = _restart(b, rig, tracer)
    b.report["restart_s"] = (drain_s, "s", 1)
    b.report["restart_cpu_s"] = (drain_cpu, "s", 1)
    b.report["drain_rows_per_s"] = (rig.backlog_rows / drain_s, "1/s", 1)
    b.report["processed_rows_per_s"] = (processed, "1/s", 1)
    b.mark("restart")

    sweep = _rate_sweep(b, rig) if tracer.enabled else []
    rig.stop()
    rows_in = _check(b, rig, _batch_twin(b, rig))
    b.mark("check")
    if tracer.enabled:
        _layers(b, rig, tracer, status, traced, drain_s, rows_in, sweep)
