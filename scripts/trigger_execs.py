#!/usr/bin/env python3
"""Per-trigger SQL executions of a streaming run, from a Spark event log.

For every micro-batch (trigger) it prints each SQL execution the trigger
ran: its wall time, jobs, stages and tasks, what it ran (the root of its
physical plan, and a file write's output path) and its call site (the
step name, such as `upsert:fold`, for the steps a graft commit names), and
the driver gaps between consecutive executions (time no execution was
running). A summary of medians over the triggers follows, per plan.

A trigger is a root SQL execution whose jobs carry the micro-batch id
(`streaming.sql.batchId`); the executions a `foreachBatch` sink starts
are its children (`rootExecutionId`). Trigger and addBatch durations
come from the streaming progress events when the log holds them.

Enable the log for any JVM run without touching its code:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/abs/dir" \\
      python3 e2ebench/run.py --workload ingest_serve --seed 11 --seconds 20 --trace 0
    python3 scripts/trigger_execs.py /abs/dir --skip 3

The argument is one event log file (plain or zstd, which needs the
`zstd` command) or a directory, whose newest log is read.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

SQL = "org.apache.spark.sql.execution.ui."
EXEC_START = SQL + "SparkListenerSQLExecutionStart"
EXEC_END = SQL + "SparkListenerSQLExecutionEnd"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
BATCH_ID = "streaming.sql.batchId"


def newest_log(path):
    """`path` itself, or the newest event log under directory `path`
    (a rolled `eventlog_v2_*` directory yields its event files in order)."""
    if os.path.isfile(path):
        return [path]
    entries = [os.path.join(path, n) for n in os.listdir(path) if not n.startswith(".")]
    if not entries:
        sys.exit(f"no event log under {path}")
    log = max(entries, key=os.path.getmtime)
    if os.path.isdir(log):
        return sorted(os.path.join(log, n) for n in os.listdir(log) if n.startswith("events_"))
    return [log]


def lines(files):
    for f in files:
        name = f[:-len(".inprogress")] if f.endswith(".inprogress") else f
        if name.endswith((".zstd", ".zst")):
            proc = subprocess.run(["zstd", "-dcq", f], stdout=subprocess.PIPE, check=False)
            data = proc.stdout.decode("utf-8", "replace")
        elif name.endswith((".lz4", ".snappy", ".lzf")):
            sys.exit(f"{f}: only plain and zstd event logs are read")
        else:
            with open(f, encoding="utf-8", errors="replace") as fh:
                data = fh.read()
        yield from data.splitlines()


STEP = re.compile(r"^\w+:\w+$")


def call_site(start):
    """The step name a graft commit sets on its jobs (`upsert:fold`,
    `upsert:write`), else the innermost graft frame of the call stack
    Spark recorded for the execution, else its short description. (A
    stream's other executions all carry the stream's start call site.)"""
    desc = (start.get("description") or "").strip()
    if STEP.match(desc):
        return desc
    for frame in (start.get("details") or "").splitlines():
        frame = frame.strip()
        if frame.startswith("graft.") and not frame.startswith("graftbench."):
            return frame
    return (start.get("description") or "?").strip().splitlines()[0]


def plan_label(start):
    """What the execution ran: the root operator of its physical plan,
    and for a file write the last two components of its output path (a
    version number as v<N>, so commits group together)."""
    plan = start.get("physicalPlanDescription") or ""
    root = "?"
    for line in plan.splitlines():
        line = re.sub(r"^[\s:+\-*]+", "", line).strip()
        if line and "==" not in line and not line.startswith("AdaptiveSparkPlan"):
            root = re.sub(r"\s*\(\d+\).*$", "", line)
            break
    m = re.search(r"InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: ([^,\s]+)", plan)
    if m:
        tail = "/".join(m.group(1).rstrip("/").split("/")[-2:])
        root += " " + re.sub(r"(^|/)v\d+", r"\1v<N>", tail)
    return root


def parse(files):
    execs = {}      # execution id -> dict
    jobs = {}       # job id -> execution id
    stage_exec = {}  # stage id -> execution id
    progress = {}   # batch id -> durationMs
    for line in lines(files):
        if not line.startswith("{"):
            continue
        try:
            e = json.loads(line)
        except ValueError:
            continue  # a truncated last line of a live log
        kind = e.get("Event")
        if kind == EXEC_START:
            x = execs.setdefault(e["executionId"], {"jobs": 0, "stages": 0, "tasks": 0, "batch": None})
            x.update(start=e["time"], site=call_site(e), label=plan_label(e),
                     root=e.get("rootExecutionId", e["executionId"]))
        elif kind == EXEC_END:
            execs.setdefault(e["executionId"], {"jobs": 0, "stages": 0, "tasks": 0, "batch": None})["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            xid = props.get("spark.sql.execution.id")
            if xid is None:
                continue
            xid = int(xid)
            x = execs.setdefault(xid, {"jobs": 0, "stages": 0, "tasks": 0, "batch": None})
            x["jobs"] += 1
            if props.get(BATCH_ID) is not None:
                x["batch"] = int(props[BATCH_ID])
            jobs[e["Job ID"]] = xid
            for st in e.get("Stage Infos", []):
                stage_exec[st["Stage ID"]] = xid
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            xid = stage_exec.get(info["Stage ID"])
            if xid is not None:
                execs[xid]["stages"] += 1
                execs[xid]["tasks"] += info.get("Number of Tasks", 0)
        elif kind == PROGRESS:
            p = e.get("progress") or {}
            if "batchId" in p:
                progress[p["batchId"]] = p.get("durationMs", {})
    return execs, progress


def triggers(execs):
    """batch id -> the trigger's executions (children of its root), by start."""
    done = {i: x for i, x in execs.items() if "start" in x and "end" in x}
    batch_of_root = {}
    for i, x in done.items():
        if x["batch"] is not None:
            batch_of_root.setdefault(x["root"], x["batch"])
    parents = {x["root"] for i, x in done.items() if x["root"] != i}
    out = {}
    for i, x in done.items():
        b = batch_of_root.get(x["root"])
        if b is None or i in parents:
            continue  # not a trigger's, or the root wrapping its children
        out.setdefault(b, []).append(dict(x, id=i))
    return {b: sorted(xs, key=lambda x: x["start"]) for b, xs in out.items()}


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="event log file, or a directory holding logs")
    ap.add_argument("--skip", type=int, default=0, help="leave out the first N triggers (warm-up)")
    ap.add_argument("--quiet", action="store_true", help="print only the summary")
    a = ap.parse_args()
    execs, progress = parse(newest_log(a.log))
    trig = triggers(execs)
    batches = sorted(trig)[a.skip:]
    if not batches:
        sys.exit("no trigger executions in the log (is it a streaming run?)")
    by_site, n_exec, n_jobs, gap_total, busy = {}, [], [], [], []
    for b in batches:
        xs = trig[b]
        gaps = [max(0, y["start"] - x["end"]) for x, y in zip(xs, xs[1:])]
        walls = [x["end"] - x["start"] for x in xs]
        n_exec.append(len(xs))
        n_jobs.append(sum(x["jobs"] for x in xs))
        gap_total.append(sum(gaps))
        busy.append(sum(walls))
        d = progress.get(b, {})
        if not a.quiet:
            extra = "".join(f", {k} {d[k]} ms" for k in ("triggerExecution", "addBatch") if k in d)
            print(f"trigger {b}: {len(xs)} executions, {n_jobs[-1]} jobs, "
                  f"executions {sum(walls)} ms, gaps {sum(gaps)} ms{extra}")
            for k, (x, w) in enumerate(zip(xs, walls)):
                gap = f"  gap {gaps[k - 1]:>5} ms" if k else " " * 15
                print(f"  {gap}  exec {x['id']:>5}  {w:>6} ms  jobs {x['jobs']:>2}  "
                      f"stages {x['stages']:>2}  tasks {x['tasks']:>3}  {x['label']}  [{x['site']}]")
        seen = {}
        for x, w in zip(xs, walls):
            name = f"{x['label']}  [{x['site']}]"
            seen[name] = seen.get(name, 0) + 1
            key = name + (f" #{seen[name]}" if seen[name] > 1 else "")
            by_site.setdefault(key, []).append(w)
    n = len(batches)
    print(f"\nsummary over {n} triggers (batch {batches[0]}..{batches[-1]}): medians")
    print(f"  executions {med(n_exec)}, jobs {med(n_jobs)}, "
          f"execution time {med(busy)} ms, driver gaps {med(gap_total)} ms")
    for k in ("triggerExecution", "addBatch"):
        vals = [progress[b][k] for b in batches if k in progress.get(b, {})]
        if vals:
            print(f"  {k} {med(vals)} ms")
    for site, ws in sorted(by_site.items(), key=lambda kv: -sum(kv[1])):
        print(f"  {med(ws):>7} ms  x{len(ws) / n:.2f}/trigger  {site}")


if __name__ == "__main__":
    main()
