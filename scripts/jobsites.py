#!/usr/bin/env python3
"""Per-op Spark job sites: which SQL executions each perfbench op ran.

Usage: python3 scripts/jobsites.py EVENT_LOG TRACE_JSONL

EVENT_LOG is the uncompressed Spark event log (a file, or the
eventlog_v2_* directory of a rolled log) of a traced perfbench run,
written by adding to the run's environment
  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true
    -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false"
TRACE_JSONL is that run's span dump (.bench_build/traces/W-SEED.jsonl).
Both come from one JVM, so their job ids agree. For each op span the
script prints its jobs grouped by SQL execution description (the call
site the engine's Dataset action was made at), with job durations.
"""
import json
import os
import sys
from collections import OrderedDict, defaultdict


def event_lines(path):
    # Spark 4 rolls event logs by default: a directory of events_N_* files
    files = [path]
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n) for n in
                 sorted(parts, key=lambda n: int(n.split("_")[1]))]
    for name in files:
        with open(name) as f:
            yield from f


def read_events(path):
    jobs, sql = {}, {}
    for line in event_lines(path):
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stages = e.get("Stage Infos") or [{}]
            jobs[e["Job ID"]] = {
                "start": e.get("Submission Time", 0), "end": None,
                "exec": props.get("spark.sql.execution.id"),
                "desc": props.get("spark.job.description")
                or stages[0].get("Stage Name", "?")}
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e.get("Completion Time")
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[str(e["executionId"])] = e.get("description") or "?"
    return jobs, sql


def read_trace(path):
    with open(path) as f:
        rows = [json.loads(line) for line in f]
    spans = {r["id"]: r for r in rows if "job" not in r}
    return spans, [r for r in rows if "job" in r]


def op_of(spans, sid):
    while sid in spans and spans[sid]["parent"] != -1:
        sid = spans[sid]["parent"]
    return spans[sid] if sid in spans else None


def main(event_log, trace):
    jobs, sql = read_events(event_log)
    spans, trace_jobs = read_trace(trace)
    per_op = OrderedDict()
    for s in sorted(spans.values(), key=lambda s: s["start_ns"]):
        if s["parent"] == -1:
            per_op[s["id"]] = defaultdict(list)
    unmatched = 0
    for tj in trace_jobs:
        op, j = op_of(spans, tj["span"]), jobs.get(tj["job"])
        if op is None or j is None:
            unmatched += 1
            continue
        site = sql.get(j["exec"], j["desc"]) if j["exec"] else j["desc"]
        ms = (j["end"] - j["start"]) if j["end"] else -1
        per_op[op["id"]][site].append((tj["job"], ms))
    for oid, groups in per_op.items():
        n = sum(len(v) for v in groups.values())
        print(f'{spans[oid]["name"]} (span {oid}, op {spans[oid]["op"]}): {n} jobs')
        for site, js in groups.items():
            total = sum(ms for _, ms in js if ms >= 0)
            detail = ", ".join(f"#{jid} {ms} ms" for jid, ms in js)
            print(f"  {len(js):3d} jobs {total:6d} ms  {site}\n           {detail}")
    if unmatched:
        print(f"{unmatched} traced jobs not found in the event log or span tree")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
