"""Steadiness check: run one workload on several seeds and print, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) as a
share of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload extract_small --runs 10

Run from the root of a checkout; the runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = bench["command"] + ["--workload", args.workload, "--seed",
                                  str(seed), "--seconds",
                                  str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True,
                             check=True).stdout.strip().splitlines()
        res = json.loads(out[-1])
        if not res["correct"]:
            print(f"seed {seed}: incorrect output", file=sys.stderr)
            return 1
        line = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: {json.dumps(line)}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:12s} median {med:10.4f}  spread {(q3 - q1) / med:.4f}"
              f"  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
