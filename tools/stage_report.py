#!/usr/bin/env python3
"""Per-query trigger and per-stage breakdown of one Spark event log.

Usage: python3 tools/stage_report.py <eventLog> [--stages N]

Reads an uncompressed Spark event log (one JSON event per line): a
single file, or the `eventlog_v2_<app>` directory of a rolling log,
whose `events_<n>_<app>` parts are read in order. Prints, for every
streaming query:
  - each trigger's `durationMs` breakdown and input rows, and the state
    operators of its last progress (rows and `memoryUsedBytes`);
  - its stages, widest first: task count, queue wait (stage submission
    to the first task launch), summed run and deserialize time.
Jobs belong to a query through the `sql.streaming.queryId` job property
that Spark sets on every job a micro-batch submits, `foreachBatch`
bodies included; jobs without it are reported as "(no query)". Queries
that ran jobs or made progress are numbered in the order they started.
pipebench starts its eight in the order of `Pipeline.queries`:
requests, responses, impressions, clicks, pairs, geo, funnel summary,
funnel rollup.

Capturing a log needs no code change: SparkConf reads `spark.*` JVM
system properties, and `pipebench/run.py` passes `JAVA_TOOL_OPTIONS`
through to its JVM. Build the pipebench package once without the
variable (sbt would pick it up too), then:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=$PWD/evlog -Dspark.eventLog.compress=false" \\
      python3 pipebench/run.py --workload stream --seed 1729 --seconds 6 --trace 1
    python3 tools/stage_report.py evlog/eventlog_v2_local-*

Event logging adds listener work to every task, so a logged run is for
diagnosis only: never one side of an A/B comparison.
"""
import argparse
import collections
import json
import os
import re
import sys

QUERY_KEY = "sql.streaming.queryId"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"
DURATIONS = ("addBatch", "queryPlanning", "getBatch", "latestOffset",
             "walCommit", "commitOffsets", "triggerExecution")


class Stage:
    def __init__(self, sid, name, submitted, query):
        self.sid, self.name, self.submitted, self.query = sid, name, submitted, query
        self.tasks = 0
        self.first_launch = None
        self.run_ms = 0
        self.deser_ms = 0

    def queue_ms(self):
        if self.first_launch is None or self.submitted is None:
            return None
        return self.first_launch - self.submitted


def events(path):
    """The log's events in order, from a file or a rolling-log directory."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if re.match(r"events_\d+_", f)]
        files = [os.path.join(path, f)
                 for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def read(path):
    stages = {}                       # (stage id, attempt) -> Stage
    progress = collections.defaultdict(list)   # query id -> progress dicts
    names = {}                        # query id -> name, in start order
    for ev in events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            query = (ev.get("Properties") or {}).get(QUERY_KEY)
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stages[key] = Stage(info["Stage ID"], info.get("Stage Name", ""),
                                info.get("Submission Time"), query)
        elif kind == "SparkListenerTaskStart":
            st = stages.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            launch = ev["Task Info"]["Launch Time"]
            if st and (st.first_launch is None or launch < st.first_launch):
                st.first_launch = launch
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            m = ev.get("Task Metrics") or {}
            if st:
                st.tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.deser_ms += m.get("Executor Deserialize Time", 0)
        elif kind == STARTED:
            names.setdefault(ev["id"], ev.get("name"))
        elif kind == PROGRESS:
            p = ev["progress"]
            progress[p["id"]].append(p)
    return stages, progress, names


def label(qid, progress, names):
    """A query's name, else what it reads and which state it keeps."""
    if names.get(qid):
        return names[qid]
    ps = progress.get(qid) or [{}]
    srcs = [s.get("description", "?") for s in ps[-1].get("sources", [])]
    short = [s.split("[")[0] + ("[" + s.rstrip("]").split("/")[-2] + "]"
                                if "FileStreamSource" in s and s.count("/") > 1 else "")
             for s in srcs]
    ops = sorted({o.get("operatorName", "?") for p in ps for o in p.get("stateOperators", [])})
    return ", ".join(short) + (f"; state: {', '.join(ops)}" if ops else "")


def report(path, top):
    stages, progress, names = read(path)
    by_query = collections.defaultdict(list)
    for st in stages.values():
        by_query[st.query].append(st)
    order = {q: k for k, q in enumerate(names)}
    queries = sorted(set(progress) | {q for q in by_query if q},
                     key=lambda q: (order.get(q, len(order)), q))
    for k, qid in enumerate(queries + ([None] if None in by_query else [])):
        if qid is None:
            print("== (no query)")
        else:
            print(f"== query #{k} {qid[:8]}  {label(qid, progress, names)}")
        ps = progress.get(qid, [])
        if ps:
            print("   batch  rows    " + " ".join(f"{d:>16}" for d in DURATIONS))
            for p in ps:
                d = p.get("durationMs", {})
                rows = sum(src.get("numInputRows", 0) for src in p.get("sources", []))
                print(f"   {p['batchId']:>5} {rows:>6}    " +
                      " ".join(f"{d.get(k, ''):>16}" for k in DURATIONS))
            for o in ps[-1].get("stateOperators", []):
                print(f"   state {o.get('operatorName', '?')}: rows {o.get('numRowsTotal')}, "
                      f"memoryUsedBytes {o.get('memoryUsedBytes')}")
        sts = sorted(by_query.get(qid, []), key=lambda s: (-s.tasks, s.sid))
        if sts:
            tot = sum(s.tasks for s in sts)
            print(f"   {len(sts)} stages, {tot} tasks; widest first:")
            print("   stage  tasks  queue_ms   run_ms  deser_ms  name")
            for s in sts[:top]:
                q = s.queue_ms()
                print(f"   {s.sid:>5} {s.tasks:>6} {q if q is not None else '-':>9} "
                      f"{s.run_ms:>8} {s.deser_ms:>9}  {s.name[:60]}")
        print()


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", help="uncompressed Spark event log: file or rolling-log directory")
    ap.add_argument("--stages", type=int, default=5, help="stages listed per query")
    args = ap.parse_args(argv)
    report(args.log, args.stages)


if __name__ == "__main__":
    main(sys.argv[1:])
