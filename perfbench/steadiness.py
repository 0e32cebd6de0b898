#!/usr/bin/env python3
"""Steadiness of the benchmark: runs each workload in two alternating sets
of runs (A and B, with distinct seeds) and prints, for every (workload,
end-to-end metric) pair, each set's median and quartiles, each set's
spread (quartile distance over median) and the ratio of the medians.

Usage (from the repository root):
  python3 perfbench/steadiness.py [--runs 10] [--workloads a,b] [--seconds N]

A pair is marked "ok" when both spreads are within the metric's bound in
BENCHMARK.json and B's median is no worse than A's by more than the
bound. The share of failed ops must be identical in the two sets.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: output checks failed")
    return res


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results = {(w, s): [] for w in workloads for s in "AB"}
    for i in range(args.runs):
        # alternate which set runs first, so drift over the session hits both
        for s in ("AB" if i % 2 == 0 else "BA"):
            for w in workloads:
                seed = (1000 if s == "A" else 2000) + i
                res = run(w, seed, args.seconds)
                results[(w, s)].append(res)
                print(f"run {i} set {s} {w} seed {seed}: " + ", ".join(
                    f"{m} {v['value']:.4g}" for m, v in res["metrics"].items()),
                    file=sys.stderr, flush=True)

    print("| workload | metric | A median | A q1..q3 | A spread | B median | B q1..q3 "
          "| B spread | B/A | bound | ok |")
    print("|---|---|---|---|---|---|---|---|---|---|---|")
    all_ok = True
    for w in workloads:
        shares = {s: {r["failed"] / r["attempted"] for r in results[(w, s)]} for s in "AB"}
        if shares["A"] != shares["B"] or len(shares["A"]) != 1:
            all_ok = False
            print(f"| {w} | failed share | {sorted(shares['A'])} | | | {sorted(shares['B'])} "
                  "| | | | | no |")
        for m, bound in bounds.items():
            a = stats([r["metrics"][m]["value"] for r in results[(w, "A")]])
            b = stats([r["metrics"][m]["value"] for r in results[(w, "B")]])
            ratio = b[0] / a[0]
            ok = ratio <= 1 + bound and max(a[3], b[3]) <= bound
            all_ok &= ok
            print(f"| {w} | {m} | {a[0]:.4g} | {a[1]:.4g}..{a[2]:.4g} | {a[3]:.3f} "
                  f"| {b[0]:.4g} | {b[1]:.4g}..{b[2]:.4g} | {b[3]:.3f} | {ratio:.3f} "
                  f"| {bound} | {'ok' if ok else 'NO'} |")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
