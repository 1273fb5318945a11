#!/usr/bin/env python3
"""Steadiness check: run every workload of BENCHMARK.json on several
seeds and report each end-to-end metric's median and spread (quartile
distance over median) against its bound.

    python3 perfbench/steady.py --runs 10 [--workload NAME] [--first-seed 1]

Run from the repository root. Prints one row per (workload, metric) and
writes the raw summaries to `<build dir>/perfbench/steady.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    out = os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                       "perfbench", "steady.json")
    results = {}
    for w in workloads:
        for seed in range(a.first_seed, a.first_seed + a.runs):
            r = subprocess.run(
                spec["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]),
                                   "--trace", "0"],
                capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{r.stderr[-3000:]}")
            results.setdefault(w, []).append(json.loads(r.stdout.splitlines()[-1]))
    with open(out, "w") as f:
        json.dump(results, f)
    print("| workload | metric | median | spread | bound | runs |")
    print("|---|---|---|---|---|---|")
    for w, rs in results.items():
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            print(f"| {w} | {m['name']} | {statistics.median(vals):.4g} {m['unit']} "
                  f"| {stats.spread(vals):.3f} | {m['bound']} | {len(vals)} |")
        bad = sum(1 for r in rs if not r["correct"])
        print(f"| {w} | correct | {len(rs) - bad}/{len(rs)} runs | | | |")


if __name__ == "__main__":
    main()
