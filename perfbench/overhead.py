"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 perfbench/overhead.py --workload interactive --seed N [--seconds S]

Runs the workload once untraced and once traced with the same seed and
prints one JSON line: each end-to-end metric's untraced value, traced
value and difference (traced - untraced). The traced run's figures come
from its span file under perfbench/.out/.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)["metrics"]
    run(args.workload, args.seed, args.seconds, 1)
    span_file = max(glob.glob(os.path.join(HERE, ".out", f"{args.workload}-{args.seed}-t-*.json")),
                    key=os.path.getmtime)
    with open(span_file) as f:
        traced = json.load(f)["end_to_end"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "span_file": span_file,
        "overhead": {k: {"untraced": v["value"], "traced": traced[k],
                         "traced_minus_untraced": traced[k] - v["value"], "unit": v["unit"]}
                     for k, v in plain.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
