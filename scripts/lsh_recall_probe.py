"""Price lsh_recall_curve's deferred two-pass fix (r9 verdict item 4).

The query needs the exploded shingle table twice: once for the
capped-exact Jaccard ground truth, once for the MinHash banding
candidates. r9 deferred sharing it because the table is CORPUS-scale —
a checkpoint trades a full materialization for a recompute. This probe
measures both variants at sf0.1 AND sf1 (scripts/make_sf1.py data),
NEARDUP_WIDEBAND_PROBE-style; the fix is applied only if it wins at
sf1.

Variants, both built from the production functions in plans/llm_ops8.py:
- recompute: ``_lsh_recall(docs, sh=None)`` — truth and cand each
  derive shingles.
- shared_ckpt (the shipped plan): the registered ``lsh_recall_curve``,
  ONE plan_ckpt-ed (doc_id, sh array) table feeding both sides.

Usage: python scripts/lsh_recall_probe.py  # writes LSH_RECALL_PROBE.json
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def run_variant(spark, sf_dir: str, variant: str):
    """The registered lsh_recall_curve ("shared_ckpt"), or the same
    body with truth and banding each deriving their own shingles
    ("recompute")."""
    from distributed_file_system_with_stream_processing_spark.plans import llm_ops8
    from distributed_file_system_with_stream_processing_spark.sources.tables import (
        load_table,
    )

    if variant == "shared_ckpt":
        return llm_ops8.lsh_recall_curve(spark, sf_dir)
    return llm_ops8._lsh_recall(load_table(spark, sf_dir, "documents"), sh=None)


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from distributed_file_system_with_stream_processing_spark.session import get_spark

    spark = get_spark(app_name="lsh_recall_probe", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    sf1 = str(REPO / ".sf1")
    dirs = [("sf0.1", "/root/testdata/sf0.1")]
    if os.path.isdir(sf1):
        dirs.append(("sf1", sf1))

    results = []
    for sf_name, sf_dir in dirs:
        for variant in ("recompute", "shared_ckpt"):
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                df = run_variant(spark, sf_dir, variant)
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            row = {"variant": variant, "sf": sf_name, "wall_s": round(best, 2)}
            results.append(row)
            print(json.dumps(row), flush=True)
        # sanity: identical output rows between variants at this SF
        a, b = (
            {tuple(r) for r in run_variant(spark, sf_dir, v).collect()}
            for v in ("recompute", "shared_ckpt")
        )
        results.append({"sf": sf_name, "variants_equal": a == b})
        print(json.dumps(results[-1]), flush=True)

    with open(REPO / "LSH_RECALL_PROBE.json", "w") as f:
        json.dump(results, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
