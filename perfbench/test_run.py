"""Smoke tests for the benchmark: every workload, untraced and traced,
at sf0.001 with a tiny stream, must pass its correctness checks and
print exactly the metrics BENCHMARK.json names.

    python3 -m pytest perfbench/test_run.py -q      # a few minutes
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import pct  # noqa: E402
from run import E2E, PER_LAYER, WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        capture_output=True, text=True, cwd=cwd, timeout=600,
    )


def test_spec_names_match_the_code():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(E2E)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_pct_interpolates():
    assert pct([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert pct([1.0, 2.0], 90) == pytest.approx(1.9)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_emits_every_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "7", "--seconds", "2",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = PER_LAYER if trace else {k: None for k in E2E}
    assert set(res["metrics"]) == set(want)
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], float)
        if not trace:
            assert v["value"] > 0, k


def test_fails_without_the_package(tmp_path):
    """Run from a directory holding only BENCHMARK.json and perfbench/."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rainstorm_store",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=tmp_path, timeout=120,
    )
    assert p.returncode != 0
    assert "metrics" not in p.stdout
