#!/usr/bin/env python3
"""Per-job, per-stage table of a Spark event log.

    python3 tools/stagelog.py EVENT_LOG [--match TEXT]

EVENT_LOG is an uncompressed event log: one file, or a rolling
`eventlog_v2_<app>` directory (its `events_<n>_*` parts are read in order).
Capture one from any engine or benchmark run, with no code change, through
the JVM's system properties:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file://<existing dir> -Dspark.eventLog.compress=false" \\
      python3 perfbench/run.py --workload update_mixed --seed 2 --seconds 8 --trace 0

One line per stage, grouped under its job: task count, input, shuffle and
output records (and the most one task wrote), median and maximum task run
time (executor run time, ms),
bytes written, and the job's label: the call site of the SQL action it
belongs to, marked `[broadcast]` for a broadcast exchange's job. `--match`
keeps only the jobs whose label or stage names contain TEXT (for example
`Collection.scala:261` for the commit write, or `broadcast`).
"""
import argparse
import json
import os
import re
import statistics
import sys


def events(path):
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def new_stage(name):
    return {"name": name, "tasks": [], "in": 0, "shuf_r": 0, "shuf_w": 0,
            "out": 0, "out_max": 0, "bytes": 0}


def load(path):
    jobs = {}          # job id -> {"sql", "broadcast", "stages": [stage ids]}
    stages = {}        # stage id -> metrics
    sql = {}           # SQL execution id -> its description (the action's call site)
    for e in events(path):
        ev = e["Event"]
        if ev.endswith("SparkListenerSQLExecutionStart"):
            sql[str(e["executionId"])] = e.get("description") or ""
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            root = props.get("spark.sql.execution.root.id")
            jobs[e["Job ID"]] = {
                "sql": sql.get(root, "") if root else "",
                "broadcast": "broadcast exchange" in (props.get("spark.job.tags") or ""),
                "stages": e["Stage IDs"]}
            for si in e["Stage Infos"]:
                stages.setdefault(si["Stage ID"], new_stage(si["Stage Name"]))
        elif ev == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], new_stage("?"))
            m = e.get("Task Metrics") or {}
            st["tasks"].append(m.get("Executor Run Time", 0))
            st["in"] += m.get("Input Metrics", {}).get("Records Read", 0)
            st["shuf_r"] += m.get("Shuffle Read Metrics", {}).get("Total Records Read", 0)
            st["shuf_w"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Records Written", 0)
            out = m.get("Output Metrics", {}).get("Records Written", 0)
            st["out"] += out
            st["out_max"] = max(st["out_max"], out)
            st["bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return jobs, stages


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--match", default="")
    args = ap.parse_args()
    jobs, stages = load(args.log)
    cols = ("job", "stage", "tasks", "in_rec", "shuf_r", "shuf_w", "out_rec",
            "out_max", "p50_ms", "max_ms", "bytes_out", "label")
    rows = []
    for jid in sorted(jobs):
        job = jobs[jid]
        # stages skipped because their shuffle output was reused ran no task
        run = [s for s in job["stages"] if stages.get(s, {}).get("tasks")]
        # AQE submits a query's jobs from a thread pool, so their stage
        # names carry no call site; the SQL execution's description does
        label = job["sql"] or (stages[run[0]]["name"] if run else "")
        if job["broadcast"]:
            label += "  [broadcast]"
        if args.match and args.match not in " ".join(
                [label] + [stages[s]["name"] for s in run]):
            continue
        for sid in run:
            st = stages[sid]
            t = st["tasks"]
            rows.append([str(x) for x in (
                jid, sid, len(t), st["in"], st["shuf_r"], st["shuf_w"], st["out"],
                st["out_max"], int(statistics.median(t)), max(t), st["bytes"], label)])
    widths = [max(len(r[i]) for r in rows + [list(cols)]) for i in range(len(cols) - 1)]
    for r in [list(cols)] + rows:
        print("  ".join(c.rjust(w) for c, w in zip(r, widths)) + "  " + r[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
