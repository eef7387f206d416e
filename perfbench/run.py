"""Listing-ETL benchmark: one workload per run.

    python3 perfbench/run.py --workload listing_daily_batch --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed``, starts a Spark session sized for the machine, sets up
(inputs, an untimed warm pass), measures for ``--seconds`` of workload
time, checks every output, and prints one ``name value unit`` line per
metric, then one JSON object as its last line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans, the Spark event log and streaming progress, and reports the
per-layer metrics instead.  Exits 1 on any wrong result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("listing_daily_batch", "listing_stream")


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    dirs = common.RunDirs(run_id)
    try:
        common.size_environment(dirs)
        from perfbench.workloads import run_workload

        report = run_workload(args, dirs)
    finally:
        dirs.remove()
    for name, (value, unit) in report["named"].items():
        print(f"{name} {value:.6g} {unit}")
    print("environment " + json.dumps(report["environment"], sort_keys=True))
    for f in report["failures"]:
        print(f"WRONG {f}")
    result = {
        "correct": not report["failures"],
        "attempted": report["attempted"],
        "failed": len(report["failures"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report["metrics"].items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
