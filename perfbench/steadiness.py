#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1000] [--workloads a,b] [--json out.json]
                                    [--against earlier.json]

Run from the repository root. Runs every workload of BENCHMARK.json `--runs`
times, each with its own seed, and prints per metric the median, the
quartiles (statistics.quantiles(values, n=4)) and the spread
(Q3 - Q1) / median next to a third of the metric's bound. With --against,
it also prints how far each median moved from the same workload's median in
an earlier --json file, next to the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--json", default="")
    ap.add_argument("--against", default="")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    results = {}
    for wl in names:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            out = subprocess.run(
                bench["command"] + ["--workload", wl, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            if out.returncode != 0:
                sys.exit(f"{wl} seed {seed} exited {out.returncode}:\n{out.stderr[-4000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            # the set-up and window lines say how much CPU time the host stole
            steal = [ln for ln in out.stderr.splitlines() if "stolen" in ln]
            runs.append({"seed": seed, **res, "steal": steal})
            print(f"{wl} seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
                  file=sys.stderr, flush=True)
        results[wl] = runs
    if args.json:
        with open(args.json, "w") as f:
            json.dump(results, f, indent=1)
    print("| workload | metric | median | Q1 | Q3 | spread | bound/3 | ok |")
    print("|---|---|---|---|---|---|---|---|")
    for wl, runs in results.items():
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            ok = spread <= m["bound"] / 3
            print(f"| {wl} | {m['name']} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | "
                  f"{m['bound'] / 3:.3f} | {'yes' if ok else 'NO'} |")
        print(f"| {wl} | failed ops | {sum(r['failed'] for r in runs)} of "
              f"{sum(r['attempted'] for r in runs)} | | | | | |")
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)
        print()
        print("| workload | metric | earlier median | median | change | bound | ok |")
        print("|---|---|---|---|---|---|---|")
        for wl, runs in results.items():
            for m in bench["end_to_end"]:
                before = median_of(earlier[wl], m["name"])
                now = median_of(runs, m["name"])
                change = now / before - 1
                ok = change <= m["bound"]
                print(f"| {wl} | {m['name']} | {before:.4g} | {now:.4g} | {change:+.3f} | {m['bound']} | "
                      f"{'yes' if ok else 'NO'} |")


def median_of(runs, name):
    return statistics.median(r["metrics"][name]["value"] for r in runs)


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
