#!/usr/bin/env python3
"""Timeline of SQL executions, jobs, stages and tasks from a Spark event log.

Usage: python3 tools/evtimeline.py EVENTLOG_DIR [first_job last_job]

EVENTLOG_DIR is a `spark.eventLog.dir` (the newest log in it is read), one
rolling log directory (`eventlog_v2_*`) or one event log file; the log
must be uncompressed (`spark.eventLog.compress=false`). With
job ids, only jobs first_job..last_job (inclusive) are shown, with the SQL
executions and stages they belong to.

Prints, in milliseconds relative to the first shown event:
  - each SQL execution's span and description;
  - each job's span, its SQL execution, and the gap since the previous
    shown job ended (or since its execution started);
  - each stage's span and task count;
  - per task: the launch delay after its stage was submitted, the time
    spent deserializing the task before it ran, its run time, and GC.
Task deserialization (the task closure, its broadcast plan, any Hadoop
Configuration it carries) shows here and not in the benchmark's trace
spans.
"""
import json
import os
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def log_files(path):
    """The event log's files in order: `path` itself, the `events_N_*`
    files of a rolling log directory (`eventlog_v2_*`, Spark's default),
    or those of the newest log in a `spark.eventLog.dir`."""
    if os.path.isfile(path):
        return [path]
    names = [f for f in os.listdir(path) if not f.startswith(".")]
    parts = [f for f in names if f.startswith("events_")]
    if parts:
        return [os.path.join(path, f)
                for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    if not names:
        sys.exit(f"no event log under {path}")
    newest = max((os.path.join(path, f) for f in names), key=os.path.getmtime)
    return log_files(newest)


def events(paths):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read(paths):
    execs, jobs, stages, tasks = {}, {}, {}, []
    for e in events(paths):
        kind = e.get("Event")
        if kind == SQL_START:
            execs[e["executionId"]] = {
                "start": e["time"], "end": None,
                "desc": e.get("description", "")}
        elif kind == SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"], "end": None,
                "stages": e.get("Stage IDs", []),
                "sql": int(sql) if sql is not None else None}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            s = e["Stage Info"]
            stages[(s["Stage ID"], s["Stage Attempt ID"])] = {
                "id": s["Stage ID"], "name": s.get("Stage Name", ""),
                "tasks": s.get("Number of Tasks"),
                "start": s.get("Submission Time"),
                "end": s.get("Completion Time")}
        elif kind == "SparkListenerTaskEnd":
            i, m = e["Task Info"], e.get("Task Metrics") or {}
            tasks.append({
                "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                "id": i["Task ID"], "index": i["Index"],
                "launch": i["Launch Time"], "finish": i["Finish Time"],
                "deser": m.get("Executor Deserialize Time", 0),
                "run": m.get("Executor Run Time", 0),
                "gc": m.get("JVM GC Time", 0)})
    return execs, jobs, stages, tasks


def main(argv):
    if len(argv) not in (2, 4):
        sys.exit(__doc__)
    execs, jobs, stages, tasks = read(log_files(argv[1]))
    lo, hi = (int(argv[2]), int(argv[3])) if len(argv) == 4 else (
        min(jobs, default=0), max(jobs, default=-1))
    shown = {j: jobs[j] for j in sorted(jobs) if lo <= j <= hi}
    if not shown:
        sys.exit(f"no job in {lo}..{hi}")
    sqls = sorted({j["sql"] for j in shown.values() if j["sql"] in execs})
    t0 = min([j["start"] for j in shown.values()] +
             [execs[s]["start"] for s in sqls])

    def rel(t):
        return "      ?" if t is None else f"{t - t0:7d}"

    def span(a, b):
        return f"{rel(a)} ..{rel(b)}  {b - a if a is not None and b is not None else '?':>6} ms"

    for s in sqls:
        x = execs[s]
        print(f"sql {s:<5} {span(x['start'], x['end'])}  {x['desc'][:70]}")
    prev_end = None
    for jid, j in shown.items():
        since = prev_end if prev_end is not None else (
            execs[j["sql"]]["start"] if j["sql"] in execs else None)
        gap = f"gap {j['start'] - since} ms" if since is not None else ""
        print(f"job {jid:<5} {span(j['start'], j['end'])}  sql {j['sql']}  {gap}")
        prev_end = j["end"]
        for key in sorted(k for k in stages if k[0] in j["stages"]):
            st = stages[key]
            print(f"  stage {st['id']:<4} {span(st['start'], st['end'])}  "
                  f"{st['tasks']} tasks  {st['name'][:50]}")
            for t in sorted((t for t in tasks if t["stage"] == key),
                            key=lambda t: t["launch"]):
                delay = t["launch"] - st["start"] if st["start"] else "?"
                print(f"    task {t['id']:<6} idx {t['index']:<3} "
                      f"launch +{delay} ms  deser {t['deser']} ms  "
                      f"run {t['run']} ms  gc {t['gc']} ms  "
                      f"end {rel(t['finish'])}")


if __name__ == "__main__":
    main(sys.argv)
