"""Check that the benchmark's exact counts repeat: run the traced
benchmark twice with the same code and seed and compare the counters
listed in ``metric_names.EXACT_COUNTS``.

    python3 perfbench/check_counts.py --workload NAME --seed N

Each run measures ``run_seconds`` from BENCHMARK.json. Exits 1 and
names the counters that differ. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metric_names import EXACT_COUNTS  # noqa: E402


def traced_metrics(workload: str, seed: int, seconds: float) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        check=True, capture_output=True, text=True, timeout=600,
    ).stdout
    last = json.loads(out.strip().splitlines()[-1])
    return {k: v["value"] for k, v in last["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    first = traced_metrics(args.workload, args.seed, seconds)
    second = traced_metrics(args.workload, args.seed, seconds)
    differ = {k: (first[k], second[k]) for k in EXACT_COUNTS if first[k] != second[k]}
    for k in EXACT_COUNTS:
        mark = "DIFFERS" if k in differ else "same"
        print(f"{k:40s} {first[k]:>16.0f} {second[k]:>16.0f}  {mark}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
