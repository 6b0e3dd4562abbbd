"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload interactive --runs 10 [--first-seed 1]

Runs the workload once per seed, untraced, and prints per metric the ten
values' median and the interquartile range as a share of the median
(`statistics.quantiles(values, n=4)`), the figure a metric's bound in
BENCHMARK.json is set against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            check=True, capture_output=True, text=True).stdout
        lines = out.strip().splitlines()
        res, ctx = json.loads(lines[-1]), json.loads(lines[-2])["context"]
        print(json.dumps({"seed": seed, "cpu_probe_s": ctx["host_before"]["cpu_probe_s"],
                          "steal_share": ctx["steal_share"],
                          "run_s": ctx["phases"]["total_s"], **res}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:16s} median {statistics.median(vs):12.4f}  iqr/median {(q3 - q1) / med:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
