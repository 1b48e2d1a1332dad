#!/usr/bin/env python3
"""Prints the job timeline of an uncompressed Spark event log.

    python3 scripts/job_timeline.py <event-log> [--from S] [--to S] [--min-gap-ms N]

<event-log> is a log file, or a rolled log's `eventlog_v2_<app-id>`
directory.

One line per SQL execution and per job, in start order, with times in
seconds since the log's first event:

    +12.345  sql   42 wall 1.234           localCheckpoint at Checkpoints.scala:74
    +12.350  job  101 wall 0.120 tasks   4 sql 42  stage 210 [Exchange, WholeStageCodegen (2)]
    +12.600  gap       0.130

A job line names the stages it ran (skipped stages are left out) with the
operator scopes of each stage's RDDs; its task count is theirs. A `gap`
line is driver time with no job running, printed before the job that ends
it when it is at least --min-gap-ms long. --from/--to keep the lines that
start inside that window and the summary at the end counts only those.

Get a log from a run with event logging switched on through system
properties, which Spark reads as configuration, e.g.

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev \
      -Dspark.eventLog.compress=false" python3 perfbench/run.py ...
"""
import argparse
import glob
import json
import os
import sys


def scope_name(rdd):
    try:
        return json.loads(rdd.get("Scope") or "{}").get("name")
    except ValueError:
        return None


def events(path):
    """The events of the log file at `path`, or of the rolled
    `events_<n>_*` files of the log directory at `path`, in order."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def read(path):
    """Returns (t0, executions, jobs, stages) from the log at `path`."""
    t0 = None
    execs, jobs, stages = {}, {}, {}
    for ev in events(path):
        kind = ev.get("Event", "")
        t = ev.get("Timestamp") or ev.get("time") or ev.get("Submission Time")
        if t0 is None and t:
            t0 = t
        if kind.endswith("SQLExecutionStart"):
            execs[ev["executionId"]] = {
                "start": ev["time"], "end": None,
                "root": ev.get("rootExecutionId", ev["executionId"]),
                "desc": " ".join((ev.get("description") or "").split())}
        elif kind.endswith("SQLExecutionEnd"):
            if ev["executionId"] in execs:
                execs[ev["executionId"]]["end"] = ev["time"]
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"], "end": None,
                "stages": ev.get("Stage IDs", []),
                "sql": props.get("spark.sql.execution.id")}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            names = []
            for rdd in sorted(info.get("RDD Info", []), key=lambda r: r.get("RDD ID", 0)):
                n = scope_name(rdd)
                if n and n not in names:
                    names.append(n)
            stages[info["Stage ID"]] = {"tasks": info.get("Number of Tasks", 0),
                                        "scopes": names}
    return t0 or 0, execs, jobs, stages


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--from", dest="lo", type=float, default=float("-inf"))
    ap.add_argument("--to", dest="hi", type=float, default=float("inf"))
    ap.add_argument("--min-gap-ms", type=float, default=50.0)
    args = ap.parse_args()
    t0, execs, jobs, stages = read(args.log)

    def rel(ms):
        return (ms - t0) / 1000.0

    def wall(rec):
        return (rec["end"] - rec["start"]) / 1000.0 if rec["end"] is not None else float("nan")

    def inside(rec):
        return args.lo <= rel(rec["start"]) <= args.hi

    lines = []
    for eid, e in execs.items():
        if inside(e):
            nested = "" if e["root"] == eid else " (in %s)" % e["root"]
            lines.append((e["start"], 0, "%+9.3f  sql  %4d wall %.3f           %s%s" % (
                rel(e["start"]), eid, wall(e), e["desc"][:100], nested)))
    busy_end = None
    n_jobs = n_tasks = 0
    gaps = 0.0
    for jid in sorted(jobs, key=lambda j: (jobs[j]["start"], j)):
        j = jobs[jid]
        ran = [s for s in j["stages"] if s in stages]
        tasks = sum(stages[s]["tasks"] for s in ran)
        if inside(j):
            if busy_end is not None and j["start"] - busy_end >= args.min_gap_ms:
                gap = (j["start"] - busy_end) / 1000.0
                gaps += gap
                lines.append((busy_end, 1, "%+9.3f  gap       %.3f" % (rel(busy_end), gap)))
            n_jobs += 1
            n_tasks += tasks
            detail = "  ".join("stage %d [%s]" % (s, ", ".join(stages[s]["scopes"])) for s in ran)
            lines.append((j["start"], 2, "%+9.3f  job  %4d wall %.3f tasks %3d sql %s  %s" % (
                rel(j["start"]), jid, wall(j), tasks, j["sql"] or "-", detail)))
        if j["end"] is not None:
            busy_end = j["end"] if busy_end is None else max(busy_end, j["end"])
    for _, _, text in sorted(lines):
        print(text)
    print("%d jobs, %d tasks, %.3f s of driver gaps of at least %.0f ms" % (
        n_jobs, n_tasks, gaps, args.min_gap_ms))


if __name__ == "__main__":
    sys.exit(main())
