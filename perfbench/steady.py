#!/usr/bin/env python3
"""Steadiness command: runs one workload N times with N seeds, twice, and
prints each end-to-end metric's median and quartiles per set, the spread
(quartile distance over the median) and the drift of the second median
from the first, against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload pipeline [--runs 10] [--sets 2]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"run failed (seed {seed}):\n{r.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets = []
    for s in range(a.sets):
        results = [run_once(a.workload, 1000 * s + i + 1, spec["run_seconds"])
                   for i in range(a.runs)]
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"set {s + 1}: failed share {sorted(shares)}, "
              f"correct {all(r['correct'] for r in results)}")
        sets.append(results)
    print(f"{'metric':<16} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'drift':>7} {'bound':>6}")
    for name, bound in bounds.items():
        first = None
        for s, results in enumerate(sets):
            v = [r["metrics"][name]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(v, n=4)
            first = med if first is None else first
            print(f"{name:<16} {s + 1:>3} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} "
                  f"{(q3 - q1) / med:>7.3f} {(med - first) / first:>7.3f} {bound:>6}")


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
