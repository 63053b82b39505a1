#!/usr/bin/env python3
"""Run one workload N times, each with another seed, and print for every
metric its median, quartiles, min/max and quartile spread (the distance
between the first and third quartile as a share of the median), which is
what the bounds in BENCHMARK.json are set from.

    python3 perfbench/steady.py --workload llm_small --runs 10 [--trace 1]

Each run's "# detail" line (pass walls, external and stolen cores, and
whether a counted pass ran over the harness's external-load limit) is
printed too, so a noisy run can be explained.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    default=json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    values, shares, noisy = {}, set(), 0
    for i in range(args.runs):
        seed = args.first_seed + i
        r = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=HERE.parent, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}\n{r.stdout[-2000:]}")
            continue
        res = json.loads(lines[-1])
        detail = next((x for x in lines if x.startswith("# detail")), "")
        noisy += '"noisy": true' in detail
        print(f"seed {seed}: {detail}")
        shares.add(res["failed"] / res["attempted"])
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])

    print(f"\nfailed share per run: {sorted(shares)}; noisy runs: {noisy}")
    print(f"{'metric':40s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'min':>10s} {'max':>10s} {'spread':>8s}")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        print(f"{k:40s} {med:10.4f} {q1:10.4f} {q3:10.4f} {min(xs):10.4f} "
              f"{max(xs):10.4f} {spread:8.4f}")


if __name__ == "__main__":
    main()
