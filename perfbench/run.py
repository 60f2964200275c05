#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of metrics.

    python3 perfbench/run.py --workload <router_stream|sql_short|corpus_pipeline>
                             --seed <n> --seconds <s> --trace <0|1>
                             [--corrupt 1]

Run from the repository root. The first run builds the benchmark (sbt,
offline) into target/ and caches the classpath under .bench_build/; inputs
are generated from the seed (gen.py) into .bench_build/data/. The last line of
standard output is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
`--corrupt 1` corrupts one checked output to show that the check catches it.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("router_stream", "sql_short", "corpus_pipeline")
# everything a run builds, generates and writes goes under ROOT/BUILD
BUILD = ".bench_build"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# A run is flagged as loaded when other work keeps more CPUs than this busy.
LOADED_CPUS = 0.5


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build (paths, sizes, contents)."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_proc(cmd, cwd, timeout, out_path, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(bd):
    """Compile the benchmark with the repository's main classes; cache the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(bd, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp and all(
                os.path.exists(p) for p in saved["classpath"].split(":") if "/classes" in p):
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(bd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's temporary files and locks inside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also for the JVMs the sbt script starts
    log_path = os.path.join(bd, "build.log")
    t0 = time.time()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], HERE, 840, log_path, env)
    with open(log_path) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and "graftbench" not in l and ":" in l
           and "/classes" in l]
    if rc != 0 or not cps:
        log(f"build failed (rc={rc}); see {log_path}:")
        log("\n".join(lines[-20:]))
        sys.exit(3)
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1]


def data_dir(bd, seed):
    import gen
    d = os.path.join(bd, "data", f"seed{seed}-sf{gen.SF}-d{gen.DOCS}-v{gen.VECS}")
    if not os.path.exists(os.path.join(d, "DONE")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def jvm(cp, work, args, timeout):
    """One benchmark process; returns its result.json (None on failure)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.PerfBench", "--work", work,
              "--spawn-ms", repr(time.time() * 1000.0)] + args)
    rc = run_proc(cmd, ROOT, timeout, os.path.join(work, "jvm.log"))
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        log(f"benchmark process failed (rc={rc}); last lines of {work}/jvm.log:")
        with open(os.path.join(work, "jvm.log")) as f:
            log("".join(f.readlines()[-25:]))
        return None
    with open(res) as f:
        # NaN (an empty sample) reads as null
        return json.load(f, parse_constant=lambda c: None)


def check_oracle(data, results, corrupt):
    """DuckDB oracle comparison with tools/compare_oracle.py's rules: columns
    sorted by name, rows sorted, exact value equality, int/float kinds
    equal; a query without oracle SQL must return rows. Returns failed names.
    With `corrupt`, one cell of the first non-empty result is changed by the
    smallest step a rounding bug would make: one cent of a double, one of an
    integer, one character of a string."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails, corrupted = [], not corrupt
    for q in sorted(d for d in os.listdir(results) if os.path.isdir(os.path.join(results, d))):
        got = con.sql(f"SELECT * FROM '{results}/{q}/*.parquet'").fetchdf()
        if not corrupted and len(got) > 0:
            floats = [c for c in got.columns if got[c].dtype.kind == "f"]
            c = (floats or list(got.columns))[0]
            v = got.at[0, c]
            if isinstance(v, str):
                got.at[0, c] = v + "x"
            elif c in floats:
                got.at[0, c] = 1.0 if math.isnan(v) else v + 0.01
            else:
                got.at[0, c] = v + 1
            corrupted = True
        if q not in oracle:
            if len(got) == 0:
                fails.append(q); log(f"{q}: no rows (no oracle SQL)")
            continue
        try:
            want = con.sql(oracle[q]).fetchdf()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            fails.append(q); log(f"{q}: oracle SQL error {e}"); continue
        sc, dc = sorted(got.columns), sorted(want.columns)
        if sc != dc:
            fails.append(q); log(f"{q}: columns {sc} vs oracle {dc}"); continue
        if any(got[c].dtype.kind in "iuf" and want[c].dtype.kind in "iuf"
               and (got[c].dtype.kind == "f") != (want[c].dtype.kind == "f") for c in sc):
            fails.append(q); log(f"{q}: int/float kind differs from oracle"); continue
        a = got[sc].sort_values(sc).reset_index(drop=True)
        b = want[dc].sort_values(dc).reset_index(drop=True)
        if len(a) != len(b):
            fails.append(q); log(f"{q}: {len(a)} rows vs oracle {len(b)}"); continue
        for c in sc:
            pairs = list(zip(a[c].tolist(), b[c].tolist()))
            bad = [i for i, (x, y) in enumerate(pairs) if not same(x, y)]
            if bad:
                x, y = pairs[bad[0]]
                fails.append(q); log(f"{q}: column {c} row {bad[0]}: {x!r} vs oracle {y!r}")
                break
    return fails


def same(x, y):
    return (x == y or (x is None and y is None)
            or (isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y)))


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def cpu_ticks():
    """(total, idle + iowait, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7]


def busy_cpus(window=0.5):
    """CPUs busy over a short window."""
    t0, i0, _ = cpu_ticks()
    time.sleep(window)
    t1, i1, _ = cpu_ticks()
    return (os.cpu_count() or 1) * (1 - (i1 - i0) / max(t1 - t0, 1))


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log(f"no graft sources under {ROOT}: run from a checkout of the repository")
        sys.exit(2)

    bd = os.path.join(ROOT, BUILD)
    os.makedirs(bd, exist_ok=True)
    cp = build(bd)
    nproc = os.cpu_count()
    busy_start, load_start = busy_cpus(), loadavg()
    t_start = time.time()
    data = data_dir(bd, a.seed) if a.workload != "router_stream" else ""
    runs = os.path.join(bd, "runs")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    common = ["--workload", a.workload, "--seed", str(a.seed), "--data", data]
    work = os.path.join(runs, tag)
    # a run measures for about --seconds after a cold pass of up to a minute
    budget = 90 + 4 * a.seconds - (time.time() - t_start)
    ticks0 = cpu_ticks()
    r = jvm(cp, work, common + ["--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--corrupt", str(a.corrupt)], budget)
    if r is None:
        sys.exit(1)
    ticks1 = cpu_ticks()
    # CPUs the hypervisor gave to other guests while the benchmark ran
    steal = nproc * (ticks1[2] - ticks0[2]) / max(ticks1[0] - ticks0[0], 1)

    failed = list(r["failed"])
    if a.workload != "router_stream":
        failed += check_oracle(data, os.path.join(work, "results"), a.corrupt == 1)
    attempted = max(int(r["attempted"]), 1)

    e2e = dict(r["e2e"], setup_s=r["setup_s"])
    busy_end = busy_cpus()
    env = {"git_sha": git_sha(), "source_sha256": source_stamp()[:16], "nproc": nproc,
           "loadavg_start": load_start, "loadavg_end": loadavg(),
           "busy_cpus_start": busy_start, "busy_cpus_end": busy_end, "steal_cpus": steal,
           # other work than this benchmark's: busy CPUs sampled while none
           # of its processes run, and CPU time stolen while it ran
           "loaded": max(busy_start, busy_end, steal) > LOADED_CPUS,
           "cpu_over_wall": r["env"]["cpu_over_wall"], "jvm": r["env"]["jvm"],
           "spark": r["env"]["spark"], "spark_conf": r["env"]["spark_conf"],
           "workload": a.workload, "seed": a.seed,
           "seconds": a.seconds, "trace": a.trace}
    if env["loaded"]:
        log(f"WARNING: loaded box: {busy_start:.2f} -> {busy_end:.2f} of {nproc} cpus busy "
            f"with other work, {steal:.2f} stolen while running")
    for n in r.get("notes", []):
        log(n)
    log(f"fail_ratio {len(failed) / attempted:.6f} ({len(failed)} of {attempted})"
        + (f": {', '.join(map(str, failed[:10]))}" if failed else ""))
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump({"env": env, "e2e": e2e, "per_layer": r["per_layer"],
                   "attempted": attempted, "failed": failed}, f, indent=1, sort_keys=True)
    if a.trace:
        import report
        untraced, _ = report.load(runs, a.workload, a.seed, 0)
        with open(os.path.join(work, "trace.json")) as f:
            report.report({"e2e": e2e, "per_layer": r["per_layer"]}, json.load(f), untraced, log)
    if not failed:  # keep the bulky outputs only for a run that needs looking into
        for d in ("sink", "checkpoint", "results", "spark-local", "warehouse", "tmp"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print("# env " + json.dumps(env, sort_keys=True))
    # metric names and units come from BENCHMARK.json; a layer that a
    # workload does not exercise reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.trace:
        metrics = {m["name"]: {"value": r["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        unused = sorted(set(metrics) - set(r["per_layer"]))
        if unused:
            log(f"layers this workload does not exercise (reported as 0): {', '.join(unused)}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
