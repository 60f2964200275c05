#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same commit, one seed per run.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 10] [--sets 2]
                                [--seconds 10] [--first-seed 1]

Runs `perfbench/run.py --trace 0` once per (set, workload, seed); set k uses
seeds first-seed + k*seeds ... Prints, per workload and end-to-end metric,
each set's median, quartiles and relative spread ((Q3 - Q1) / median, with
Python's statistics.quantiles(n=4)), the shift of the second set's median
against the first, and a suggested bound: three times the largest spread or
the shift, whichever is larger, rounded up to 0.01, at least 0.05 and at
most 0.25 (setup_s always gets 0.25). Every run's result line is appended to
.bench_build/steady/<set>-<workload>.jsonl.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3, (q3 - q1) / q2


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description="two sets of runs of the same commit")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    out = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out, exist_ok=True)
    names = [m["name"] for m in bench["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for k in range(a.sets):
        for w in a.workloads.split(","):
            vals = runs.setdefault((k, w), [])
            for i in range(a.seeds):
                seed = a.first_seed + k * a.seeds + i
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                    "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                                   cwd=ROOT, capture_output=True, text=True)
                line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
                if p.returncode != 0 or not line.startswith("{"):
                    print(f"set {k} {w} seed {seed}: run failed (rc={p.returncode})\n{p.stderr[-2000:]}")
                    continue
                res = json.loads(line)
                with open(os.path.join(out, f"{k}-{w}.jsonl"), "a") as f:
                    f.write(json.dumps(dict(res, seed=seed)) + "\n")
                if not res["correct"]:
                    print(f"set {k} {w} seed {seed}: INCORRECT ({res['failed']} of {res['attempted']} failed)")
                vals.append({m: res["metrics"][m]["value"] for m in names})
                print(f"set {k} {w} seed {seed}: " + ", ".join(
                    f"{m}={vals[-1][m]:.4g}" for m in names), flush=True)
    for w in a.workloads.split(","):
        print(f"\n{w}")
        print(f"  {'metric':14s} {'set':>3s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
              f"{'spread':>7s} {'shift':>7s} {'bound':>6s} {'suggest':>7s}")
        for m in names:
            worst, med0, shift = 0.0, None, 0.0
            for k in range(a.sets):
                v = [r[m] for r in runs.get((k, w), [])]
                if len(v) < 2:
                    continue
                q1, q2, q3, s = spread(v)
                med0 = q2 if med0 is None else med0
                shift = max(shift, (q2 - med0) / med0)
                worst = max(worst, s)
                print(f"  {m:14s} {k:3d} {q2:11.4f} {q1:11.4f} {q3:11.4f} {s:7.3f} "
                      f"{(q2 - med0) / med0:+7.3f} {bounds[m]:6.2f}")
            sug = 0.25 if m == "setup_s" else min(0.25, max(0.05, math.ceil(100 * max(3 * worst, shift)) / 100))
            print(f"  {'':14s} {'':3s} {'':11s} {'':11s} {'':11s} {'':7s} {'':7s} {'':6s} {sug:7.2f}"
                  + ("" if m == "setup_s" or worst <= bounds[m] / 3 else "  SPREAD ABOVE bound/3"))


if __name__ == "__main__":
    main()
