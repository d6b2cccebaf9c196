"""Untimed correctness check of the refresh workflow over all 26 registry
datasets: 52 dataset-phase operations plus seeded reads, each compared
with the plain-Python reference model. ``pipeline_refresh`` times three
datasets a run; this covers the rest of the registry in one go.

    python3 perfbench/check_registry.py --seed 1

Prints one JSON line: attempted, failed and the failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import uuid

import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reads", type=int, default=100)
    args = ap.parse_args()

    work = os.path.join(run.HERE, ".work", f"registry-{uuid.uuid4().hex[:8]}")
    try:
        run.isolate(work)
        from econdatapipeline_spark.registry import ALL_SPECS  # noqa: PLC0415

        spark = run.start_session(work, trace=False)
        try:
            res = run.refresh(spark, os.path.join(work, "wh"), ALL_SPECS, args.seed, args.reads)
        finally:
            run.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"seed": args.seed, "datasets": len(ALL_SPECS),
                      "attempted": res["attempted"], "failed": len(res["failures"]),
                      "failures": res["failures"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
