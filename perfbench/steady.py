#!/usr/bin/env python3
"""Steadiness check: run each workload with several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (distance
between the quartiles as a share of the median).

  python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--first-seed 101]
                              [--write-bounds]

Run from the root of a checkout. With --write-bounds the end-to-end
bounds in BENCHMARK.json are set to three times the largest spread seen
for each metric (at least 0.05, at most 0.25; setup_s always gets the
largest bound, 0.25). Also reports the share of failed operations,
which must be the same in every run, and each run's wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds, trace=0):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--write-bounds", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    worst = {}
    for w in names:
        vals, shares, walls = {}, set(), []
        for i in range(a.runs):
            r, wall = run_once(w, a.first_seed + i, spec["run_seconds"])
            walls.append(wall)
            if not r["correct"]:
                print(f"{w} seed {a.first_seed + i}: INCORRECT")
            shares.add((r["failed"], r["attempted"]) if r["failed"] else 0)
            for k, m in r["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
        print(f"== {w}: {a.runs} runs, wall median {statistics.median(walls):.1f} s "
              f"(max {max(walls):.1f}), failed shares {sorted(map(str, shares))}")
        for k, xs in vals.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            worst[k] = max(worst.get(k, 0.0), spread)
            print(f"  {k:12s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {spread:6.3f}")
    print("largest spread per metric: " + ", ".join(f"{k}={v:.3f}" for k, v in worst.items()))
    if a.write_bounds:
        for m in spec["end_to_end"]:
            if m["name"] == "setup_s":
                m["bound"] = 0.25
            elif m["name"] in worst:
                m["bound"] = round(min(0.25, max(0.05, 3 * worst[m["name"]])), 2)
        with open("BENCHMARK.json", "w") as fh:
            fh.write(json.dumps(spec, indent=2) + "\n")
        print("bounds written: " + ", ".join(f"{m['name']}={m['bound']}" for m in spec["end_to_end"]))


if __name__ == "__main__":
    main()
