"""Regenerate SHUFFLES.md — the MEASURED shuffle/broadcast census.

PLANS.md audits plan *shapes*; this artifact records the actual bytes:
every headline query runs once and its executed (post-AQE) plan is
walked for Exchange / BroadcastExchange SQL metrics —
``shuffleBytesWritten`` per shuffle, ``dataSize`` per broadcast build.
That turns "this join broadcasts / this agg has a map-side partial"
from an assertion into a number: shuffles should scale with the data,
broadcasts should stay metadata-scale regardless of SF.

Scope note: metrics cover the RESULT plan of each query. Driver-side
training/metadata jobs (Lloyd iterations' k-row sums, query-LUT
collects) run as separate tiny jobs and are not in these totals —
their shuffles are k-row metadata by construction (PLANS.md documents
those shapes).

Run: PYTHONPATH=. python scripts/gen_shuffles.py [sf_dir]
(defaults to $SPARK_GRAFT_SF_DIR, then /root/testdata/sf0.1)
"""

from __future__ import annotations

import sys
from pathlib import Path

# Make `python scripts/<name>.py` work from anywhere: only scripts/ is
# on sys.path when invoked that way, so the repo root must be inserted.
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import os


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def walk(node, acc) -> None:
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        walk(node.executedPlan(), acc)
        return
    if "QueryStage" in name:
        walk(node.plan(), acc)
        return
    if name.startswith("ReusedExchange"):
        # points at an already-counted exchange; don't double count
        return
    if name.startswith("BroadcastExchange"):
        acc["broadcasts"].append(_metrics(node).get("dataSize", 0))
    elif name.startswith("Exchange"):
        acc["shuffles"].append(_metrics(node).get("shuffleBytesWritten", 0))
    ch = node.children()
    for i in range(ch.length()):
        walk(ch.apply(i), acc)


def main() -> None:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    from bench import HEADLINE
    from distributed_file_system_with_stream_processing_spark.plans.registry import (
        _FRONT,
        QUERIES,
    )
    from distributed_file_system_with_stream_processing_spark.session import get_spark

    # fronted queries are off the headline list; census them too
    headline = [q for q in HEADLINE if q in QUERIES]
    headline += [q for q in _FRONT if q not in headline]

    spark = get_spark(app_name="shuffles", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in headline:
        df = QUERIES[name](spark, sf_dir)
        # execute THIS DataFrame's own QueryExecution (a noop write
        # plans a separate execution whose metrics we couldn't walk);
        # toLocalIterator streams results without driver materialization
        for _ in df.toLocalIterator():
            pass
        acc = {"shuffles": [], "broadcasts": []}
        walk(df._jdf.queryExecution().executedPlan(), acc)
        rows.append(
            (
                name,
                len(acc["shuffles"]),
                sum(acc["shuffles"]),
                max(acc["shuffles"], default=0),
                len(acc["broadcasts"]),
                max(acc["broadcasts"], default=0),
            )
        )

    rows.sort(key=lambda r: -r[2])
    mb = lambda b: f"{b / 1048576:.2f}"
    lines = [
        "# SHUFFLES — measured shuffle/broadcast census",
        "",
        f"Input: `{sf_dir}`, one run per headline query, post-AQE executed",
        "plan walked for SQL metrics (scripts/gen_shuffles.py; regenerate",
        "after plan changes). Shuffle MB = sum of `shuffleBytesWritten`",
        "over Exchange nodes; broadcast MB = largest BroadcastExchange",
        "`dataSize`. The scale contract: shuffle volume tracks the data,",
        "the largest broadcast stays metadata-scale at any SF.",
        "",
        "| query | #shuffles | shuffle MB | largest shuffle MB | #bcasts | largest bcast MB |",
        "|---|---|---|---|---|---|",
    ]
    for name, ns, tb, mx, nb, mbb in rows:
        lines.append(
            f"| {name} | {ns} | {mb(tb)} | {mb(mx)} | {nb} | {mb(mbb)} |"
        )
    total = sum(r[2] for r in rows)
    lines += [
        "",
        f"Total shuffle volume across {len(rows)} headline queries: "
        f"**{mb(total)} MB**. Largest single broadcast: "
        f"**{mb(max((r[5] for r in rows), default=0))} MB**.",
        "",
        "Reading the broadcast column: EXPLICITLY hinted broadcasts",
        "(query tables, candidate pairs, model/centroid tables, 1-row",
        "grand totals) are metadata-scale by construction and stay",
        "broadcasts at any SF. The larger entries here are",
        "ESTIMATOR-chosen broadcasts of corpus-derived tables (vocab",
        "counts, stop-shingle df tables) that happen to fit under the",
        "threshold at this SF — at 100 TB Catalyst's size estimate",
        "flips those same joins to shuffle joins automatically, which",
        "is the intended behavior (the mis-estimate drill in",
        "tests/test_plans.py proves the hinted shapes survive with the",
        "estimator disabled).",
        "",
    ]
    path = os.path.join(os.path.dirname(__file__), "..", "SHUFFLES.md")
    # preserve hand-written trailing sections (the sf1 rehearsal
    # record) across regenerations — everything from the first manual
    # "## sf1" heading onward is re-appended verbatim
    manual = ""
    if os.path.exists(path):
        old = open(path).read()
        idx = old.find("\n## sf1")
        if idx != -1:
            manual = old[idx:]
    with open(path, "w") as f:
        f.write("\n".join(lines) + manual)
    print(f"wrote SHUFFLES.md with {len(rows)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
