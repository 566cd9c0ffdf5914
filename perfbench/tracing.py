"""Spans and Spark status for the traced run.

``Tracer`` keeps spans in memory: a span is (layer.name, id, parent,
start, end), where the id is shared by every span of one query, append,
read or trigger. With tracing off, ``span`` is a no-op context manager,
so the untraced run pays one attribute lookup per layer boundary.

``SparkStatus`` reads the driver UI's REST API (``sc.uiWebUrl``): jobs
with their job group, and per-stage metrics from Spark's status store.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from collections import defaultdict

LAYERS = ("load", "dfs", "plans", "spark", "streaming")
# per-job-group sums that group_totals returns
SPARK_TOTALS = ("jobs", "stages", "tasks", "stage_launch_wait_s", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes", "failed_tasks")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: dict[str, list[dict]] = defaultdict(list)

    @contextlib.contextmanager
    def span(self, name: str, op_id: str):
        if not self.enabled:
            yield
            return
        stack = self._stack[op_id]
        rec = {
            "name": name,
            "id": op_id,
            "parent": stack[-1]["name"] if stack else None,
            "start": time.time(),
            "end": None,
        }
        # spans are appended from the helper threads too; list.append is
        # atomic and each op id is only ever driven by one thread
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()

    def add(self, name: str, op_id: str, start: float, end: float, parent: str | None) -> None:
        """Record a span measured elsewhere (a trigger's durationMs phases)."""
        if self.enabled:
            self.spans.append(
                {"name": name, "id": op_id, "parent": parent, "start": start, "end": end}
            )

    def self_times(self) -> dict[str, float]:
        """Per layer: summed span time minus the part covered by child
        spans of the same op (children never overlap each other)."""
        by_op: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            by_op[s["id"]].append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for spans in by_op.values():
            for s in spans:
                kids = sum(
                    c["end"] - c["start"] for c in spans
                    if c["parent"] == s["name"] and c is not s
                )
                out[s["name"].split(".")[0]] += max(0.0, (s["end"] - s["start"]) - kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class SparkStatus:
    """Job/stage numbers from the status store behind the driver UI."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 5.0) -> None:
        """Wait until the listener bus has posted every finished job."""
        end = time.time() + timeout
        last = -1
        while time.time() < end:
            jobs = self.jobs()
            running = sum(j["status"] == "RUNNING" for j in jobs)
            if len(jobs) == last and not running:
                return
            last = len(jobs)
            time.sleep(0.3)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> dict[int, dict]:
        return {s["stageId"]: s for s in self._get("/stages") if s["attemptId"] == 0}

    def storage(self) -> tuple[int, int]:
        rdds = self._get("/storage/rdd")
        return len(rdds), sum(r.get("memoryUsed", 0) for r in rdds)

    def group_totals(self, groups: set[str], since: float = 0.0) -> dict:
        """Sum SPARK_TOTALS over every job whose job group is in ``groups``
        and that was submitted at or after ``since``; ``per_stage`` lists
        each counted stage's numbers for the traced output."""
        jobs = [
            j for j in self.jobs()
            if j.get("jobGroup") in groups and (_ts(j.get("submissionTime")) or 0.0) >= since
        ]
        stages = self.stages()
        tot = defaultdict(float)
        tot["jobs"] = len(jobs)
        per_stage = []
        for j in jobs:
            tot["failed_tasks"] += j["numFailedTasks"]
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None or s["status"] == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += s["numTasks"]
                tot["executor_run_s"] += s["executorRunTime"] / 1e3
                tot["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                tot["gc_s"] += s["jvmGcTime"] / 1e3
                tot["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                tot["shuffle_read_bytes"] += s["shuffleReadBytes"]
                tot["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                sub, first = _ts(s.get("submissionTime")), _ts(s.get("firstTaskLaunchedTime"))
                if sub is not None and first is not None:
                    tot["stage_launch_wait_s"] += max(0.0, first - sub)
                per_stage.append({
                    "stage": sid, "job": j["jobId"], "group": j["jobGroup"],
                    "name": s["name"], "tasks": s["numTasks"],
                    "run_s": s["executorRunTime"] / 1e3,
                    "cpu_s": s["executorCpuTime"] / 1e9,
                    "gc_s": s["jvmGcTime"] / 1e3,
                    "shuffle_write_bytes": s["shuffleWriteBytes"],
                    "shuffle_read_bytes": s["shuffleReadBytes"],
                    "launch_wait_s": (first - sub) if sub and first else None,
                })
        tot["per_stage"] = per_stage
        return tot
