#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last line.

  python3 perfbench/run.py --workload <interactive|pipeline>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source (sbt, offline), generates the input tables and
caches the DuckDB-expected results under .bench_build/perfbench/; later
runs reuse them. Each run starts its own JVM, measures for --seconds,
checks the outputs against DuckDB, and prints one JSON object:
{"correct", "attempted", "failed", "metrics"} -- end-to-end metrics when
--trace 0, per-layer metrics (and a trace.jsonl in the run directory)
when --trace 1.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SF = 0.01          # input scale factor (see README: why not sf0.1)
DATA_SEED = 7      # fixed: expected results are cached per data set
JVM_TIMEOUT_S = 160
WORKLOADS = ("interactive", "pipeline")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

sys.path.insert(0, HERE)
import check  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b["hash"] == want:
            return b["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx3g"]))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    with open(os.path.join(WORK, "build.log"), "w") as fh:
        fh.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines()
             if not ln.startswith("[") and "scala-2.13" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {WORK}/build.log)")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"hash": want, "classpath": cp}, fh)
    log(f"build {time.time() - t0:.1f} s")
    return cp


def java(cp, args, out_dir, timeout):
    """Run perfbench.Main; its temp files and log stay in `out_dir`."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main", *args]
    out_log = os.path.join(out_dir, "jvm.log")
    with open(out_log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def prepare(force_expected=False):
    """Build, generate inputs, cache oracle SQL and expected results."""
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        cp = build()
        # the generator's own hash names the data, so a changed generator regenerates
        with open(os.path.join(HERE, "gen.py"), "rb") as fh:
            gen_hash = hashlib.sha256(fh.read()).hexdigest()[:12]
        data = os.path.join(WORK, f"data-sf{SF}-seed{DATA_SEED}-{gen_hash}")
        if not os.path.exists(os.path.join(data, "done")):
            import gen
            t0 = time.time()
            shutil.rmtree(data, ignore_errors=True)
            gen.generate(data, SF, DATA_SEED)
            open(os.path.join(data, "done"), "w").close()
            log(f"generated inputs in {time.time() - t0:.1f} s")
        exp_path = os.path.join(WORK, "expected.json")
        stale = True
        if os.path.exists(exp_path) and not force_expected:
            with open(exp_path) as fh:
                stale = json.load(fh).get("classpath_hash") != hash_of(cp + data)
        if stale:
            t0 = time.time()
            oracle_file = os.path.join(WORK, "oracles.json")
            rc = java(cp, ["--oracles", oracle_file], os.path.join(WORK, "oracles"), 120)
            if rc != 0:
                fail(f"oracle dump failed (see {WORK}/oracles/jvm.log)")
            with open(oracle_file) as fh:
                dump = json.load(fh)
            if not check.self_test():
                fail("checker self-test failed")
            exp = check.build_expected(data, dump["oracles"], dump["pipeline"])
            with open(exp_path, "w") as fh:
                json.dump({"classpath_hash": hash_of(cp + data), "expected": exp}, fh)
            log(f"expected results in {time.time() - t0:.1f} s")
        with open(exp_path) as fh:
            exp = json.load(fh)
    return cp, data, exp


def hash_of(s):
    return hashlib.sha256(s.encode()).hexdigest()[:16] + source_hash()[:16]


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def op_p50(workload, r):
    """Median operation latency. A pipeline round runs each of a few
    different functions once, so the median of its operations would be
    whichever function sits in the middle; there it is the median over
    rounds of the round's mean operation time, in which every function
    counts."""
    ops = r["op_ms"]
    if not ops:
        return 0.0
    if workload != "pipeline":
        return quantile(ops, 0.5)
    by_round = {}
    for ms, rnd in zip(ops, r["op_rounds"]):
        by_round.setdefault(rnd, []).append(ms)
    return statistics.median(sum(v) / len(v) for v in by_round.values())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main")) and os.path.exists(spec_path)):
        fail("run from the root of a checkout of the program (build.sbt, src/, BENCHMARK.json)")
    with open(spec_path) as fh:
        spec = json.load(fh)

    t0 = time.time()
    cp, data, exp = prepare()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    old = sorted((os.path.join(WORK, "runs", d) for d in os.listdir(os.path.join(WORK, "runs"))),
                 key=os.path.getmtime) if os.path.isdir(os.path.join(WORK, "runs")) else []
    for d in old[:-8]:  # keep the last few run directories
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(run_dir)
    log(f"inputs ready in {time.time() - t0:.1f} s")

    rc = java(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--data", data, "--out", run_dir,
                   "--cpus", str(cpus())], run_dir, JVM_TIMEOUT_S)
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        fail(f"run failed (exit {rc}); see {run_dir}/jvm.log")
    with open(res_path) as fh:
        r = json.load(fh)

    if a.workload == "pipeline":
        errs = check.check_registered(run_dir, r["checks"]["results"], exp["expected"])
    else:
        errs = check.check_interactive(run_dir, r["checks"], data)
    for e in errs:
        log(f"CHECK FAILED {e}")
    for e in r["errors"]:
        log(f"operation error: {e}")

    if a.trace:
        metrics = {m["name"]: {"value": float(r["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        vals = {"setup_s": r["setup_s"], "op_p50_ms": op_p50(a.workload, r),
                "ops_per_s": len(r["op_ms"]) / r["measured_s"] if r["measured_s"] else 0.0}
        metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    log(f"{a.workload} seed={a.seed}: {len(r['op_ms'])} ops in {r['rounds']} rounds, "
        f"{r['measured_s']:.1f} s measured; setup {r['setup_parts']}; "
        f"wall {time.time() - t0:.1f} s; {len(errs)} check failures")
    print(json.dumps({"correct": not errs, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
