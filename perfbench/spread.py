#!/usr/bin/env python3
"""Run one workload over several seeds and print, per end-to-end metric,
the median and the interquartile spread as a share of the median (the
stability figure the benchmark's bounds are checked against).

    python3 perfbench/spread.py <workload> [--seeds 10] [--first-seed 1]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                             capture_output=True, text=True)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(last)
        print(json.dumps({"seed": seed, "correct": last["correct"], "failed": last["failed"],
                          **{k: round(v["value"], 4) for k, v in last["metrics"].items()}}), flush=True)
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        print(f"{name:14s} median {stats.median(vals):12.4f}  spread {stats.spread(vals):.4f}"
              f"  bound {bound}")


if __name__ == "__main__":
    main()
