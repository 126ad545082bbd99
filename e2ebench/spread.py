#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report each metric's spread.

    python3 e2ebench/spread.py --workloads bi_core,ingest_serve --seeds 1-10 \
        --seconds 12 [--trace 0] [--out spread.json]

For every workload and metric it prints the median of the runs and the
interquartile range as a share of that median (statistics.quantiles,
n=4), next to the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m.get("bound") for m in json.load(fh)["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            detail = json.loads(next(l for l in lines if l.startswith("detail: "))[8:])
            res["host"] = {k: detail[k] for k in ("host_io_stall_share", "host_steal_share")}
            runs.append(res)
            print(f"{w} seed {s} ({time.time() - t0:.0f} s): correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                  + " " + " ".join(f"{k}={v}" for k, v in res["host"].items()),
                  flush=True)
        report[w] = {}
        for m in (runs[0]["metrics"] if runs else {}):
            vals = [r["metrics"][m]["value"] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("inf")
            report[w][m] = {"median": med, "spread": spread, "bound": bounds.get(m), "values": vals}
            print(f"  {w:>13} {m:>24} median={med:<12.6g} spread={spread:.3f} "
                  f"bound={bounds.get(m)}", flush=True)
        report[w]["host"] = [r["host"] for r in runs]
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
