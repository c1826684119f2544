"""Determinism self-test: two traced runs with one seed must report the
same counts.

    python3 perfbench/determinism.py --workload hot_patch --seed 7919

Compares every per-layer metric whose unit is ``count`` (input rows,
compaction survivors, IR rows, log rows, jobs and tasks per trigger, …)
and exits 1 when any differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_counts(workload: str, seed: int, seconds: str) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", "1"],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items() if v["unit"] == "count"}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=7919)
    p.add_argument("--seconds", default="10")
    args = p.parse_args()
    first = traced_counts(args.workload, args.seed, args.seconds)
    second = traced_counts(args.workload, args.seed, args.seconds)
    diff = {k: (first[k], second.get(k)) for k in first if first[k] != second.get(k)}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "compared": len(first), "differ": diff}))
    return 1 if diff else 0


if __name__ == "__main__":
    raise SystemExit(main())
