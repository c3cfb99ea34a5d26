#!/usr/bin/env python3
"""Per-trigger cost ledger from an uncompressed Spark event log.

Usage:

    python3 tools/trigger_ledger.py EVENT_LOG

Prints one line per streaming trigger, keyed by (query id, batch id): the
jobs and tasks it ran, the tasks' executor-deserialize and run ms, the
shuffle bytes (read + written), its input rows and, from the query's
progress event, its triggerExecution and addBatch ms. Each query is named by
its sink (a `foreachBatch` query is a ForeachBatchSink, a file sink names its
path). Per query it then prints the medians over the triggers whose input
holds 1..LIVE_ROWS rows: the live triggers of a run whose catch-up triggers
read more.

Then one line per SQL execution: the ms from its start to
its first job's submission (pre-job), from there to its last job's end
(job), and from there to its end (post-job), with the trigger its jobs ran
for.

Make the log with Spark's own settings, which SparkConf reads from
`spark.*` system properties, e.g. for the benchmark JVM:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=/abs/dir" \\
      python3 pipebench/run.py --workload cdc_ingest --seed 1 --trace 1
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"

# most input rows of a live trigger; catch-up triggers read more
LIVE_ROWS = 1000


class Trigger:
    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.deser_ms = 0
        self.run_ms = 0
        self.shuffle_b = 0
        self.rows = None
        self.trigger_ms = None
        self.add_batch_ms = None


def read(path):
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def ledger(path):
    trig = defaultdict(Trigger)  # (query id, batch id) -> Trigger
    stage_key = {}  # stage id -> (query id, batch id) or None
    job_key, job_exec, job_t = {}, {}, {}
    sinks = {}  # query id -> sink description
    execs = {}  # execution id -> [start, end, description]
    for e in read(path):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            q = props.get("sql.streaming.queryId")
            b = props.get("streaming.sql.batchId")
            key = (q, int(b)) if q is not None and b is not None else None
            jid = e["Job ID"]
            job_key[jid] = key
            job_t[jid] = [e.get("Submission Time"), None]
            x = props.get("spark.sql.execution.id")
            job_exec[jid] = int(x) if x is not None else None
            for s in e.get("Stage IDs", []):
                stage_key[s] = key
            if key is not None:
                trig[key].jobs += 1
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in job_t:
                job_t[e["Job ID"]][1] = e.get("Completion Time")
        elif ev == "SparkListenerTaskEnd":
            key = stage_key.get(e.get("Stage ID"))
            m = e.get("Task Metrics") or {}
            if key is None or not m:
                continue
            t = trig[key]
            t.tasks += 1
            t.deser_ms += m.get("Executor Deserialize Time", 0)
            t.run_ms += m.get("Executor Run Time", 0)
            r = m.get("Shuffle Read Metrics") or {}
            w = m.get("Shuffle Write Metrics") or {}
            t.shuffle_b += (r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                            + w.get("Shuffle Bytes Written", 0))
        elif ev == SQL_START:
            execs[e["executionId"]] = [e.get("time"), None, e.get("description", "")]
        elif ev == SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]][1] = e.get("time")
        elif ev == PROGRESS:
            p = e["progress"]
            t = trig[(p["id"], int(p["batchId"]))]
            t.rows = sum(x.get("numInputRows", 0) for x in p.get("sources") or [])
            d = p.get("durationMs") or {}
            t.trigger_ms = d.get("triggerExecution")
            t.add_batch_ms = d.get("addBatch")
            sinks[p["id"]] = (p.get("sink") or {}).get("description", "?")
    return trig, sinks, execs, job_key, job_exec, job_t


def name_of(sinks, q):
    s = sinks.get(q, "?")
    return "foreachBatch" if s.startswith("ForeachBatchSink") else s


def fmt(v):
    return "-" if v is None else f"{v:.0f}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("log")
    a = ap.parse_args()
    trig, sinks, execs, job_key, job_exec, job_t = ledger(a.log)

    cols = ("jobs", "tasks", "deser_ms", "run_ms", "shuffle_b", "rows",
            "trigger_ms", "add_batch_ms")
    print("query\tbatch\t" + "\t".join(cols))
    for (q, b) in sorted(trig, key=lambda k: (name_of(sinks, k[0]), k[1])):
        t = trig[(q, b)]
        print(f"{name_of(sinks, q)}\t{b}\t"
              + "\t".join(fmt(getattr(t, c)) for c in cols))

    print(f"\nmedian per trigger, triggers of 1..{LIVE_ROWS} input rows")
    print("query\ttriggers\t" + "\t".join(cols))
    for q in sorted(set(k[0] for k in trig), key=lambda q: name_of(sinks, q)):
        live = [t for (qq, _), t in trig.items()
                if qq == q and t.rows and 0 < t.rows <= LIVE_ROWS]
        if not live:
            continue
        med = [statistics.median([getattr(t, c) or 0 for t in live]) for c in cols]
        print(f"{name_of(sinks, q)}\t{len(live)}\t" + "\t".join(fmt(float(v)) for v in med))

    jobs_of = defaultdict(list)
    for j, x in job_exec.items():
        if x is not None:
            jobs_of[x].append(j)
    print("\nexecution\ttrigger\tpre_job_ms\tjob_ms\tpost_job_ms\tjobs\tdescription")
    for x in sorted(execs):
        start, end, desc = execs[x]
        js = [j for j in jobs_of.get(x, []) if job_t[j][0] is not None]
        keys = {job_key[j] for j in js if job_key[j] is not None}
        where = ",".join(f"{name_of(sinks, q)}#{b}" for q, b in sorted(keys)) or "-"
        if js and end is not None:
            first = min(job_t[j][0] for j in js)
            last = max(job_t[j][1] or first for j in js)
            pre, mid, post = first - start, last - first, end - last
        else:
            pre, mid = None, None
            post = None if end is None else end - start
        print(f"{x}\t{where}\t{fmt(pre)}\t{fmt(mid)}\t{fmt(post)}\t{len(js)}\t"
              f"{' '.join(desc.split())[:60]}")


if __name__ == "__main__":
    sys.exit(main())
