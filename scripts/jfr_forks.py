#!/usr/bin/env python3
"""Process starts of a JVM run, from a JFR recording.

Reads the `jdk.ProcessStart` events of a `.jfr` file (through the JDK's
`jfr print`) and counts them by command, by store or checkpoint
directory, by the first frame outside the JDK and by the first caller
outside the JDK, Scala and Hadoop.

Record any JVM run without touching its code, then read the file:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/abs/run.jfr,settings=profile" \\
      python3 e2ebench/run.py --workload ingest_serve --seed 11 --seconds 20 --trace 0
    python3 scripts/jfr_forks.py /abs/run.jfr

A directory is named by the last store or checkpoint part of the path a
command names (`store/cdc`, `checkpoint/state`), else by its last two
directories, numbers folded to N.
"""
import argparse
import collections
import re
import subprocess
import sys

# the sub-directories of a versioned store and of a stream checkpoint
ROLES = {"data", "manifest", "txn", "claims", "dv", "cdc", "blooms", "checkpoint",
         "tombstones", "colstats_config", "offsets", "commits", "state", "sources",
         "metadata"}
JDK = ("java.", "javax.", "jdk.", "sun.", "com.sun.")
LIBS = JDK + ("scala.", "org.apache.hadoop.")


def events(path, depth):
    """(command, frames) per jdk.ProcessStart event of the recording."""
    out = subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart",
                          "--stack-depth", str(depth), path],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    cmd, frames, in_stack = None, [], False
    for line in out.splitlines():
        s = line.strip()
        if s == "jdk.ProcessStart {":
            cmd, frames, in_stack = "", [], False
        elif s.startswith("command = "):
            cmd = s[len("command = "):].strip('"')
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s.split("(", 1)[0])
        elif s == "}" and cmd is not None:
            yield cmd, frames
            cmd = None


def directory(cmd):
    """The store or checkpoint directory a command's path argument names."""
    paths = [a for a in cmd.split() if "/" in a]
    if not paths:
        return "(no path)"
    parts = re.sub(r"^file:", "", paths[-1]).rstrip("/").split("/")[:-1]
    for i in range(len(parts) - 1, 0, -1):
        if parts[i] in ROLES:
            return f"{parts[i - 1]}/{parts[i]}"
    return re.sub(r"\d+", "N", "/".join(parts[-2:])) or "/"


def program(cmd):
    """The program and the arguments before its first path, modes left out."""
    words = []
    for w in cmd.split():
        if "/" in w:
            break
        if not w.isdigit():
            words.append(w)
    return " ".join(words)


def first(frames, skip):
    return next((f for f in frames if not f.startswith(skip)), "(none)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("jfr", help="a .jfr recording")
    ap.add_argument("--top", type=int, default=12, help="rows per grouping")
    ap.add_argument("--stack-depth", type=int, default=64, help="frames read per event")
    a = ap.parse_args()
    evs = list(events(a.jfr, a.stack_depth))
    print(f"{len(evs)} process starts in {a.jfr}")
    if not evs:
        return
    groupings = [
        ("command", lambda c, f: program(c)),
        ("directory", lambda c, f: directory(c)),
        ("first non-JDK frame", lambda c, f: first(f, JDK)),
        ("first caller outside the JDK, Scala and Hadoop", lambda c, f: first(f, LIBS)),
    ]
    for title, key in groupings:
        counts = collections.Counter(key(c, f) for c, f in evs)
        print(f"\nby {title}:")
        for k, n in counts.most_common(a.top):
            print(f"  {n:>6}  {k}")
        if len(counts) > a.top:
            print(f"  {sum(counts.values()) - sum(n for _, n in counts.most_common(a.top)):>6}"
                  f"  ({len(counts) - a.top} more)")


if __name__ == "__main__":
    sys.exit(main())
