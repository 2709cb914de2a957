"""Check that a workload's exact counts repeat between two traced runs.

    python3 perfbench/repeat_counts.py --workload crawl_grow --seed 1

Runs ``run.py --trace 1`` twice with the same seed and compares every
per-layer metric whose unit is ``count``, plus the URLs fetched per crawl
round.  Prints one JSON line, with both runs' ``traced.wall_s``; exits 1 if
any count differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced_counts(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"run failed ({proc.returncode}): {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2].split(" ", 1)[1])
    counts = {
        k: v["value"] for k, v in result["metrics"].items() if v["unit"] == "count"
    }
    if "fetched_per_round" in detail:
        counts["fetched_per_round"] = detail["fetched_per_round"]
    return counts, result["metrics"]["traced.wall_s"]["value"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        seconds = json.load(f)["run_seconds"]
    a, wall_a = traced_counts(args.workload, args.seed, seconds)
    b, wall_b = traced_counts(args.workload, args.seed, seconds)
    differ = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "counts": a, "traced_wall_s": [wall_a, wall_b],
                      "differ": {k: [a.get(k), b.get(k)] for k in differ}}))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
