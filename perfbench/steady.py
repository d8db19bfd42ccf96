#!/usr/bin/env python3
"""Steadiness check: two interleaved sets of runs of the same commit.

    python3 perfbench/steady.py [--runs 10] [--out file.json]

Run from the root of a checkout. For each workload it runs set A and
set B in turn (A1 B1 A2 B2 ...), each run with its own seed, and prints
for every end-to-end metric each set's median and quartiles, the spread
(quartile distance over the median) and whether the two sets agree
within the metric's bound in BENCHMARK.json: the two medians differ by
no more than the bound, either way, and each set's spread is within the
bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit(f"{workload} seed {seed}: outputs failed their checks:\n{p.stdout}")
    return res


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--out", default=None, help="also write the figures here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    report, ok = {}, True
    for w in names:
        sets = {"A": [], "B": []}
        for i in range(args.runs):
            for s, base in (("A", 1000), ("B", 2000)):
                sets[s].append(run(bench, w, base + i))
        fail_share = {s: sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
                      for s, rs in sets.items()}
        print(f"\n{w}: {args.runs} runs per set; failed share A {fail_share['A']:.4f} "
              f"B {fail_share['B']:.4f}")
        print(f"  {'metric':14s} {'A median':>10s} {'A q1..q3':>21s} {'A spr':>6s} "
              f"{'B median':>10s} {'B q1..q3':>21s} {'B spr':>6s} {'B/A-1':>7s} bound  agree")
        report[w] = {"failed_share": fail_share, "metrics": {}}
        for m in metrics:
            a = summary([r["metrics"][m["name"]]["value"] for r in sets["A"]])
            b = summary([r["metrics"][m["name"]]["value"] for r in sets["B"]])
            worse = (b["median"] / a["median"] - 1) * (1 if m["better"] == "lower" else -1)
            agree = abs(worse) <= m["bound"] and max(a["spread"], b["spread"]) <= m["bound"]
            ok &= agree and fail_share["A"] == fail_share["B"]
            report[w]["metrics"][m["name"]] = {
                "A": a, "B": b, "b_vs_a": worse, "bound": m["bound"], "agree": agree,
                "values": {s: [r["metrics"][m["name"]]["value"] for r in rs]
                           for s, rs in sets.items()}}
            print(f"  {m['name']:14s} {a['median']:10.4g} {a['q1']:10.4g}..{a['q3']:<10.4g} "
                  f"{a['spread']:6.3f} {b['median']:10.4g} {b['q1']:10.4g}..{b['q3']:<10.4g} "
                  f"{b['spread']:6.3f} {worse:+7.3f} {m['bound']:5.2f}  {'yes' if agree else 'NO'}")
        if args.out:
            with open(args.out, "w") as f:
                json.dump(report, f, indent=1)
    print("\nall agree" if ok else "\nsome metrics do not agree")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
