"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workloads curation_cold_warm,rainstorm_store \
        --seeds 1-10 --out perfbench/baseline/set_a.json [--trace 0] [--cores 1]

For every workload and metric it records the per-seed values, the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread (q3 - q1) / median, and flags a spread above a third of the
metric's ``bound`` in BENCHMARK.json. ``report`` holds the same summary
for every number a run prints (``# name = value unit``), gated or not.
Runs are sequential, one fresh process each, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPORT_LINE = re.compile(r"^# (\S+) = (\S+) ")


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    result = {"run_seconds": spec["run_seconds"], "trace": args.trace,
              "cores": args.cores or None, "workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", str(args.trace)]
            if args.cores:
                cmd += ["--cores", str(args.cores)]
            t = time.time()
            p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            wall = time.time() - t
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            env = next((json.loads(ln[6:]) for ln in lines if ln.startswith("# env ")), None)
            report = {m[1]: float(m[2]) for m in map(REPORT_LINE.match, lines) if m}
            runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall,
                         "result": res, "env": env, "report": report})
            print(f"{w} seed={seed} exit={p.returncode} wall={wall:.1f}s "
                  f"steal={env and env.get('cpu_steal_s')}s "
                  f"correct={res and res['correct']}", flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        metrics = {}
        for name in ok[0]["metrics"] if ok else []:
            s = summarise([r["metrics"][name]["value"] for r in ok])
            if name in bounds:
                s["bound"] = bounds[name]
                s["steady"] = s["spread"] < bounds[name] / 3
            metrics[name] = s
            print(f"  {name}: median={s['median']:.4g} spread={s['spread']:.3f}"
                  + (f" bound={s['bound']} steady={s['steady']}" if "bound" in s else ""))
        reported = [r["report"] for r in runs if r["result"]]
        report = {k: summarise([r[k] for r in reported]) for k in reported[0]} if reported else {}
        result["workloads"][w] = {
            "runs": runs, "metrics": metrics, "report": report,
            "all_correct": all(r["result"] and r["result"]["correct"] for r in runs),
            "max_wall_s": max(r["wall_s"] for r in runs),
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
