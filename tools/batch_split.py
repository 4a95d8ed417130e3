#!/usr/bin/env python3
"""Micro-batch split per streaming query, from a Spark event log.

    python3 tools/batch_split.py [--result RESULT_JSON] EVENT_LOG...

EVENT_LOG is an uncompressed event log: a file, or a rolling-log directory
(`eventlog_v2_*`, whose `events_*` files are read in order). Each streaming
query's progress events are split into data batches (some input rows) and
no-data batches (watermark-only state eviction). Per query and kind the
script prints the batch count and the per-batch medians of the input rows,
the `durationMs` phases `triggerExecution`, `queryPlanning`, `addBatch` and
`walCommit`, and of the state-store metrics `commitTimeMs`,
`numStateStoreInstances` and `memoryUsedBytes`, each summed over the
query's stateful operators.

Any JVM writes the log without a code change, through JAVA_TOOL_OPTIONS.
Example, one `click_stream` benchmark run, then its timed window only
(--result keeps batches whose trigger started between the `first_op_ms`
of `perfbench/run.py`'s `result.json` and `timed_s` later):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
        -Dspark.eventLog.compress=false -Dspark.eventLog.dir=/tmp/evlog" \\
        python3 perfbench/run.py --workload click_stream --seed 41 --seconds 20
    python3 tools/batch_split.py \\
        --result .bench_work/click_stream/result.json /tmp/evlog/eventlog_v2_*
"""
import argparse
import collections
import datetime
import glob
import json
import os
import re
import statistics

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
PHASES = ("triggerExecution", "queryPlanning", "addBatch", "walCommit")
STATE = ("commitTimeMs", "numStateStoreInstances", "memoryUsedBytes")


def log_files(path):
    """The event files of one log, in write order."""
    if not os.path.isdir(path):
        return [path]
    def part(f):
        m = re.search(r"events_(\d+)_", os.path.basename(f))
        return int(m.group(1)) if m else 0
    return sorted(glob.glob(os.path.join(path, "events_*")), key=part)


def progresses(paths):
    """Every query progress in the logs."""
    for path in paths:
        for f in log_files(path):
            with open(f) as fh:
                for line in fh:
                    if PROGRESS in line:
                        e = json.loads(line)
                        if e.get("Event") == PROGRESS:
                            yield e["progress"]


def epoch_ms(ts):
    secs, _, frac = ts.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(f"{secs}.{(frac + '000')[:3]}+00:00")
    return t.timestamp() * 1e3


def split(progress_rows):
    """{(query, kind): {metric: [per-batch values]}}, kind data or no-data."""
    out = collections.defaultdict(lambda: collections.defaultdict(list))
    for p in progress_rows:
        rows = sum(s.get("numInputRows", 0) for s in p.get("sources", []))
        m = out[(p.get("name") or p["id"], "data" if rows > 0 else "no-data")]
        m["batches"].append(1)
        m["inputRows"].append(rows)
        for k in PHASES:
            m[k].append(p.get("durationMs", {}).get(k, 0))
        for k in STATE:
            m[k].append(sum(op.get(k, 0) for op in p.get("stateOperators", [])))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--result", help="keep only the timed window of this perfbench result.json")
    ap.add_argument("logs", nargs="+", help="event log files or rolling-log directories")
    a = ap.parse_args()
    rows = list(progresses(a.logs))
    if a.result:
        r = json.load(open(a.result))
        t0, t1 = r["first_op_ms"], r["first_op_ms"] + r["timed_s"] * 1e3
        rows = [p for p in rows if t0 <= epoch_ms(p["timestamp"]) <= t1]
    cols = ("batches", "inputRows") + PHASES + STATE
    print(f"{'query':24s} {'kind':8s} " + " ".join(f"{c:>16s}" for c in cols))
    for (name, kind), m in sorted(split(rows).items()):
        vals = [str(len(m["batches"]))] + [f"{statistics.median(m[c]):g}" for c in cols[1:]]
        print(f"{name:24s} {kind:8s} " + " ".join(f"{v:>16s}" for v in vals))
    print("batches: count; other columns: per-batch medians (rows, ms, stores, bytes)")


if __name__ == "__main__":
    main()
