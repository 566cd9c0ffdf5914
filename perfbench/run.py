"""The repo benchmark: workloads against the package's public functions,
end-to-end metrics with tracing off, per-layer metrics with tracing on.

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Every run is a fresh process on ``local[nproc]`` with ``nproc`` shuffle
partitions. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``. The
lines before it print every measured number with its unit and sample
count, and the run's environment record. ``--workload all`` runs the
three workloads one after another, each in its own process.
perfbench/README.md defines the metrics.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from harness import HERE, NO_TRACE, PKG, ROOT, Bench, cpu_steal_s, loadavg, source_sha  # noqa: E402
from query_loop import CURATION, SHORT_QUERIES, run_query_passes  # noqa: E402
from stream_loop import StreamRig, run_rainstorm  # noqa: E402
from tracing import SparkStatus, Tracer  # noqa: E402

WORKLOADS = ("short_queries", "curation_cold_warm", "rainstorm_store")

E2E = {"setup_s": "s", "heap_retained_mb": "MB", "op_alloc_mb": "MB"}
# query workload: (query set, clients of its untimed first pass)
QUERY_SETS = {"short_queries": (SHORT_QUERIES, 2), "curation_cold_warm": (CURATION, 1)}
# every per-layer metric a traced run prints; a layer that the workload
# does not exercise reads 0
PER_LAYER = {
    "plans.build_s": "s", "plans.eager_jobs": "count", "plans.self_s": "s",
    "spark.catalyst_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.stage_launch_wait_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "spark.cached_rdds": "count", "spark.storage_mem_bytes": "bytes",
    "spark.self_s": "s",
    "streaming.triggers": "count", "streaming.nonempty_trigger_ratio": "ratio",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    "streaming.state_commit_s": "s", "streaming.restart_s": "s",
    "streaming.rows_in": "count", "streaming.backlog_appends": "count",
    "streaming.self_s": "s",
    "dfs.append_s": "s", "dfs.src_batches": "count", "dfs.get_s": "s",
    "dfs.read_action_s": "s", "dfs.pending_batches": "count", "dfs.self_s": "s",
    "load.late_p50_s": "s", "load.late_max_s": "s", "load.appends_due": "count",
    "load.appends_done": "count", "load.self_s": "s",
    "stream.max_sustainable_rows_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
}


def _setup(b: Bench) -> tuple[float, object]:
    """Stage the inputs once and warm up. Set-up time runs from process
    start through session up, inputs staged and the warm-up done; for the
    stream, through starting the job and its first trigger."""
    if b.args.workload == "rainstorm_store":
        staged = StreamRig(b)
        staged.append(NO_TRACE, "warmup")
        staged.reader.get("src").count()
        staged.start()
        staged.q.processAllAvailable()
    else:
        staged = b.stage_tables(0.001 if b.args.smoke else 0.01)
    return time.time() - T_START, staged


def run_one(args) -> int:
    b = Bench(args)
    env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "source_sha": source_sha(), "nproc": b.cores,
           "loadavg_before": loadavg()}
    steal = cpu_steal_s()
    tracer = Tracer(args.trace == 1)
    shutil.rmtree(b.work, ignore_errors=True)
    b.start_session()
    b.mark("session")
    try:
        import pyspark

        env["pyspark"] = pyspark.__version__
        status = SparkStatus(b.sc) if tracer.enabled else None
        setup_s, staged = _setup(b)
        b.report["setup_s"] = (setup_s, "s", 1)
        b.mark("setup")
        if args.workload == "rainstorm_store":
            run_rainstorm(b, staged, tracer, status)
        else:
            names, first_clients = QUERY_SETS[args.workload]
            run_query_passes(b, names, staged, tracer, status, first_clients)
        py_mb, jvm_mb = b.peak_rss_mb()
        b.report["peak_rss_mb"] = (py_mb + jvm_mb, "MB", None)
        b.report["peak_rss_python_mb"] = (py_mb, "MB", None)
        b.report["peak_rss_jvm_mb"] = (jvm_mb, "MB", None)
    finally:
        b.stop_session()
        shutil.rmtree(b.work, ignore_errors=True)
    b.mark("stop")
    env["loadavg_after"] = loadavg()
    env["cpu_steal_s"] = round(cpu_steal_s() - steal, 2)
    env["phases_s"] = {
        p: round(t - prev, 2) for (p, t), prev in zip(b.marks, [T_START] + [t for _, t in b.marks])
    }

    b.report["failed_ratio"] = (b.failed / max(1, b.attempted), "ratio", b.attempted)

    if tracer.enabled:
        n_ops = max(1, len({s["id"] for s in tracer.spans}))
        for layer, v in tracer.self_times().items():
            b.layer[f"{layer}.self_s"] = v / n_ops
        out = os.path.join(HERE, ".out")
        os.makedirs(out, exist_ok=True)
        tag = f"{args.workload}-seed{args.seed}"
        tracer.dump(os.path.join(out, f"spans-{tag}.jsonl"))
        with open(os.path.join(out, f"trace-{tag}.json"), "w") as fh:
            json.dump({"env": env, "layer": b.layer, "report": b.report, **b.extra}, fh, indent=1)

    for k, (v, unit, n) in b.report.items():
        print(f"# {k} = {v:.6g} {unit}" + (f"  (n={n})" if n is not None else ""))
    print("# env " + json.dumps(env))
    for m in b.mismatches:
        print(f"# MISMATCH {m}")
    if tracer.enabled:
        metrics = {k: {"value": float(b.layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": b.report[k][0], "unit": u} for k, u in E2E.items()}
    print(json.dumps({
        "correct": not b.mismatches and b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed + len(b.mismatches),
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own fresh process; relays what they print,
    then one combined result with workload-prefixed metric names."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-4000:])
            return 1
        print(f"## {w}")
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0, help="instead of local[nproc]")
    ap.add_argument("--smoke", action="store_true", help="sf0.001 and a tiny stream")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG} package beside {HERE}", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
