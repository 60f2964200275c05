#!/usr/bin/env python3
"""Layer report of a traced benchmark run.

    python3 perfbench/report.py --workload <name> --seed <n>

Reads the traced run (`--trace 1`) of that workload and seed from
.bench_build/runs/ and prints:
  - batch workloads: the self time of each layer in the attributed warm
    pass, the unattributed residue, and the slowest queries with their
    build / force / drain split and job counts;
  - router_stream: the mean micro-batch phases, which sum to the mean
    trigger time;
  - the tracing overhead: each end-to-end metric of the traced run against
    the untraced run (`--trace 0`) of the same workload and seed, when that
    run exists.
"""
import argparse
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ATTR = ["tables", "entry", "catalyst", "sched", "exec", "cleanup", "residue"]
STREAM = ["offsets", "planning", "add_batch", "wal", "commit", "other"]


def load(runs, workload, seed, trace):
    d = os.path.join(runs, f"{workload}-seed{seed}-trace{trace}")
    try:
        with open(os.path.join(d, "summary.json")) as f:
            s = json.load(f)
    except OSError:
        return None, None
    try:
        with open(os.path.join(d, "trace.json")) as f:
            t = json.load(f)
    except OSError:
        t = None
    return s, t


def report(traced, trace, untraced, out):
    layers = traced["per_layer"]
    if "attr.exec_ms" in layers:
        total = sum(layers[f"attr.{k}_ms"] for k in ATTR)
        out(f"self time of the attributed warm pass ({total:.0f} ms):")
        for k in ATTR:
            v = layers[f"attr.{k}_ms"]
            out(f"  {k:9s} {v:9.1f} ms  {100 * v / total:5.1f}%")
        out(f"  (driver-only time, no job running: {layers['sched.driver_only_ms']:.0f} ms; "
            f"executor utilisation {layers['sched.util']:.3f})")
        if trace:
            spans = trace["spans"]
            kids = {}
            for s in spans:
                kids.setdefault(s["parent"], []).append(s)
            passes = [s for s in spans if s["name"] == "pass"]
            mid = min(passes, key=lambda p: abs((p["end"] - p["start"]) / 1000 - traced["e2e"]["pass_s"]))
            qs = sorted(kids.get(mid["id"], []), key=lambda s: s["start"] - s["end"])
            out("slowest queries of that pass (build / force / drain ms, jobs):")
            for q in qs[:5]:
                parts = {k["name"]: k for k in kids.get(q["id"], [])}
                jobs = sum(1 for p in parts.values() for j in kids.get(p["id"], [])
                           if j["name"].startswith("job"))
                ms = [parts[n]["end"] - parts[n]["start"] if n in parts else 0.0
                      for n in ("build", "force", "drain")]
                out(f"  {q['name']:28s} {q['end'] - q['start']:8.1f} = "
                    + " / ".join(f"{m:.1f}" for m in ms) + f", {jobs} jobs")
    if "stream.trigger_ms" in layers:
        parts = [layers[f"stream.{k}_ms"] for k in STREAM]
        out("micro-batch phases, mean ms per batch: "
            + " + ".join(f"{k} {v:.2f}" for k, v in zip(STREAM, parts))
            + f" = {sum(parts):.2f} (trigger {layers['stream.trigger_ms']:.2f})")
    if untraced:
        out("tracing overhead (traced vs untraced, same seed):")
        for k, v in traced["e2e"].items():
            u = untraced["e2e"].get(k)
            if u:
                out(f"  {k:14s} {v:12.4f} vs {u:12.4f}  ({100 * (v - u) / u:+.1f}%)")
    else:
        out("tracing overhead: no untraced run of this workload and seed to compare with")


def main():
    ap = argparse.ArgumentParser(description="layer report of a traced run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    runs = os.path.join(os.path.dirname(HERE), ".bench_build", "runs")
    traced, trace = load(runs, a.workload, a.seed, 1)
    if traced is None:
        raise SystemExit(f"no traced run of {a.workload} seed {a.seed} under {runs}")
    untraced, _ = load(runs, a.workload, a.seed, 0)
    report(traced, trace, untraced, print)


if __name__ == "__main__":
    main()
