#!/usr/bin/env python3
"""Negative self-test of the benchmark's output checks.

    python3 perfbench/selftest.py [--workloads a,b] [--seed 1]

Runs each workload (default: those of BENCHMARK.json) once with
`--corrupt 1`, which changes one checked output (a result cell before the
oracle comparison, or the topic of one delivered stream row before the sink
comparison), and exits 0 only if every run reports correct=false with at
least one failed operation.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description="the output checks must catch a corrupted result")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        names = ",".join(w["name"] for w in json.load(f)["workloads"])
    ap.add_argument("--workloads", default=names)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    ok = True
    for w in a.workloads.split(","):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", str(a.seed), "--seconds", "1", "--trace", "0",
                            "--corrupt", "1"], cwd=os.path.dirname(HERE),
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        caught = bool(res) and not res["correct"] and res["failed"] >= 1
        ok &= caught
        print(f"{w}: " + (f"caught ({res['failed']} of {res['attempted']} failed)" if caught
                          else f"NOT caught (rc={p.returncode}, result={res})"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
