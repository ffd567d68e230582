"""Run a workload over several seeds and report each end-to-end metric's
median and quartile spread, as the acceptance check computes them.

    python3 perfbench/spread.py --workload trickle_stream --seeds 1 2 3 4 5
                                [--seconds 10] [--trace 0]

Run from the repository root; prints one line per run (wall time, the
host's steal share of busy CPU time, and metrics) and then, per metric, the
median and (Q3 - Q1) / median.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.harness import RESULTS_DIR  # noqa: E402
from perfbench.stats import median, quartile_spread  # noqa: E402

RESULTS = os.path.join(os.getcwd(), RESULTS_DIR)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=False)
        wall = time.perf_counter() - t0
        walls.append(wall)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            return 1
        result = json.loads(lines[-1])
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        with open(os.path.join(RESULTS, f"{args.workload}-seed{seed}-trace{args.trace}.json"),
                  encoding="utf-8") as f:
            steal = json.load(f)["samples"]["cpu_s"]["run"]["host_steal_share"]
        print(f"seed {seed} wall={wall:.1f}s steal={steal:.3f} correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v['value']:.5g}" for k, v in result["metrics"].items()),
              flush=True)
    print(f"wall median={median(walls):.1f}s max={max(walls):.1f}s")
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k}: median={median(vs):.6g} spread={spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
