#!/usr/bin/env python3
"""graft end-to-end benchmark: one workload, one run, one result line.

Run from the repository root:

    python3 e2ebench/run.py --workload bi_core --seed 1 --seconds 20 --trace 0

The script builds the library and the harness from this checkout (sbt,
cached by a hash of the sources), makes the workload's inputs from the
seed, runs the harness JVM, checks the outputs (DuckDB oracle rows
included) and prints, as its last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end set of BENCHMARK.json, with --trace 1 the
per-layer set. Everything it writes stays under e2ebench/work and
e2ebench/target. See e2ebench/README.md.
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
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
SF = 0.1
HEAP = "4g"
# a run must end within 180 s; the harness JVM is killed past this
RUN_BUDGET_S = 170
# BENCHMARK.json registers bi_core and ingest_serve; ml_iterative runs the
# same way but is left out of it (see README.md)
WORKLOADS = ("bi_core", "ml_iterative", "ingest_serve")
# what spark-submit adds on JDK 17 (the root build.sbt passes the same)
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads: library and harness sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    """Compile library + harness with sbt unless the sources are unchanged;
    return the runtime classpath."""
    stamp_file = os.path.join(TARGET, "e2ebench-build.json")
    digest = source_hash()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            stamp = json.load(fh)
        if stamp.get("sources") == digest:
            return stamp["classpath"]
    log("building library and harness with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export e2ebench/Runtime/fullClasspath"],
        timeout=700, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        die(f"sbt build failed (exit {code})", 3)
    cps = [l.strip() for l in out.splitlines()
           if os.pathsep in l and not l.startswith("[") and "classes" in l]
    if not cps:
        die("sbt did not print the runtime classpath", 3)
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"sources": digest, "classpath": cps[-1]}, fh)
    return cps[-1]


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def self_times(spans):
    """Seconds per span name, minus the time of each span's children."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out[s["name"]] = out.get(s["name"], 0) + own / 1e9
    return out


def oracle_check(data_dir, verify_dir, oracle_sql):
    """Compare each oracle row's Spark result with DuckDB's answer through
    scripts/check.py. Returns the list of failures."""
    os.makedirs(verify_dir, exist_ok=True)
    with open(os.path.join(verify_dir, "oracle_sql.json"), "w") as fh:
        json.dump(oracle_sql, fh)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                        data_dir, verify_dir], capture_output=True, text=True, timeout=120)
    bad = [l[len("FAIL "):] for l in p.stdout.splitlines() if l.startswith("FAIL ")]
    if p.returncode != 0 and not bad:
        bad.append(f"scripts/check.py exit {p.returncode}: {p.stderr.strip()[-500:]}")
    return bad


def host_counters():
    """(microseconds every task stalled on IO, from /proc/pressure/io or
    None without it; steal jiffies; all jiffies, from /proc/stat)."""
    try:
        with open("/proc/pressure/io") as fh:
            io_full = int(fh.read().split("full ")[1].split("total=")[1].split()[0])
    except (OSError, IndexError, ValueError):
        io_full = None
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return io_full, f[7], sum(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--queries", help="comma-separated override of the query list")
    ap.add_argument("--fail-query", help="inject a failure into this query (harness tests)")
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources next to the benchmark: run from a full checkout")
    with open(spec_file) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classpath = build()
    t_start = time.time()  # the run's budget starts after a (first-run) build
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    for d in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    try:
        if args.workload != "ingest_serve":
            sys.path.insert(0, HERE)
            import datagen
            t0 = time.time()
            datagen.write(args.seed, SF, data_dir)
            log(f"inputs for seed {args.seed} (sf{SF}) in {time.time() - t0:.1f} s")
        out_file = os.path.join(run_dir, "result.json")
        # -XX:-UsePerfData: no hsperfdata file outside the checkout.
        # -Xms = -Xmx: a heap that starts small grows during the timed
        # window, and the shrinking GC share made each pass faster than
        # the one before.
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={run_dir}/tmp",
               f"-Dspark.local.dir={run_dir}/local",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for o in JDK_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "graftbench.Main",
                "--workload", args.workload, "--data", data_dir, "--work", run_dir,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--out", out_file]
        if args.queries:
            cmd += ["--queries", args.queries]
        if args.fail_query:
            cmd += ["--fail-query", args.fail_query]
        env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=f"{run_dir}/scratch")
        budget = RUN_BUDGET_S - (time.time() - t_start)
        host0, t0 = host_counters(), time.time()
        try:
            code, _ = run_bounded(cmd, timeout=max(10, budget), env=env,
                                  stdout=sys.stderr, cwd=run_dir)
        except subprocess.TimeoutExpired:
            die("harness exceeded the run budget", 4)
        if code != 0 or not os.path.exists(out_file):
            die(f"harness failed (exit {code})", 4)
        with open(out_file) as fh:
            res = json.load(fh)
        # while the harness ran: the share of wall time in which every task
        # waited on IO, and the share of CPU time given to other guests
        host1, wall = host_counters(), time.time() - t0
        res["detail"]["host_io_stall_share"] = (
            None if host0[0] is None else (host1[0] - host0[0]) / 1e6 / wall)
        res["detail"]["host_steal_share"] = (host1[1] - host0[1]) / max(1, host1[2] - host0[2])

        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        oracle_sql = res["detail"].get("oracle_sql", {})
        if oracle_sql:
            bad = oracle_check(data_dir, os.path.join(run_dir, "verify"), oracle_sql)
            attempted += len(oracle_sql)
            failed += len(bad)
            failures += [f"oracle {b}" for b in bad]

        source = res["e2e"] if not args.trace else res["layers"]
        metrics, missing = {}, []
        for m in wanted:
            v = source.get(m["name"])
            if v is None or (isinstance(v, float) and not math.isfinite(v)):
                missing.append(m["name"])
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        failures += [f"metric {m} not measured" for m in missing]
        correct = failed == 0 and not missing

        res["failures"] = failures
        res["provenance"]["git_sha"] = git_sha() or "unavailable"
        res["provenance"]["source_sha256"] = source_hash()
        res["provenance"]["sf"] = str(SF)
        os.makedirs(WORK, exist_ok=True)
        keep = os.path.join(WORK, f"last-{args.workload}-trace{args.trace}.json")
        with open(keep, "w") as fh:
            json.dump(res, fh, indent=1)
        print(f"provenance: {json.dumps(res['provenance'], sort_keys=True)}")
        shown = {k: v for k, v in res["detail"].items()
                 if k not in ("oracle_sql", "traced_samples")}
        print(f"detail: {json.dumps(shown, sort_keys=True)}")
        for name, sec in sorted(self_times(res["spans"]).items()):
            print(f"self time {name:>22} {sec:12.4f} s")
        for f in failures:
            print(f"FAILED: {f}")
        print(f"failed_ratio: {failed / max(1, attempted):.6f} ({failed} of {attempted} operations)")
        for name, m in metrics.items():
            print(f"{name:>28} {m['value']:>16.6g} {m['unit']}")
        print(json.dumps({"correct": correct, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
