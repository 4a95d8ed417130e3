#!/usr/bin/env python3
"""Fork census: which child processes a JVM command starts, and from where.

    python3 tools/fork_census.py [--result RESULT_JSON] [--keep DIR] -- CMD...

Runs CMD with a JFR recording of `jdk.ProcessStart` (stack traces on) in
every JVM it starts, through JAVA_TOOL_OPTIONS, so no script or build file
changes. When the command exits, prints the process starts of all its JVMs
by command name, then by command and the top stack frame outside Hadoop
and the JDK (the code that asked Hadoop for the fork).

--result adds the same count over the timed window of a benchmark run: the
`first_op_ms` and `timed_s` fields of the `result.json` that
`perfbench/run.py` leaves under `.bench_work/<workload>/`. It is read after
the command exits. Example, the timed phase of one `click_stream` run:

    python3 tools/fork_census.py --result .bench_work/click_stream/result.json -- \\
        python3 perfbench/run.py --workload click_stream --seed 41 --seconds 20

A JVM killed before it exits writes no recording and is not counted.
"""
import argparse
import collections
import datetime
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

SETTINGS = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="fork census">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting>
  </event>
</configuration>
"""

# frames of these packages are the fork machinery, not its caller
SKIP = ("java.", "javax.", "jdk.", "sun.", "org.apache.hadoop.")


def events(jfr_file):
    """(epoch ms, command, top non-Hadoop frame) of each process start."""
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", jfr_file],
                         capture_output=True, text=True, check=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        secs, _, frac = v["startTime"].rstrip("Z").partition(".")
        start = datetime.datetime.fromisoformat(f"{secs}.{(frac + '000000')[:6]}+00:00")
        frames = (v.get("stackTrace") or {}).get("frames") or []
        names = [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
                 for f in frames]
        caller = next((n for n in names if not n.startswith(SKIP)),
                      names[-1] if names else "?")
        yield start.timestamp() * 1e3, os.path.basename(v["command"].split()[0]), caller


def report(scope, rows):
    print(f"process starts ({scope}): {len(rows)}")
    for c, n in collections.Counter(c for _, c, _ in rows).most_common():
        print(f"{n:8d}  {c}")
    print("  by command and caller:")
    for (c, s), n in collections.Counter((c, s) for _, c, s in rows).most_common():
        print(f"{n:8d}  {c:12s} {s}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--result", help="also count the timed window of this perfbench result.json")
    ap.add_argument("--keep", help="directory to keep the recordings in (default: deleted)")
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.cmd[1:] if a.cmd[:1] == ["--"] else a.cmd
    if not cmd:
        ap.error("no command given")
    rec_dir = a.keep or tempfile.mkdtemp(prefix="fork_census_")
    os.makedirs(rec_dir, exist_ok=True)
    jfc = os.path.join(rec_dir, "process_start.jfc")
    open(jfc, "w").write(SETTINGS)
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"),
        f"-XX:StartFlightRecording=settings={jfc},filename={rec_dir}/",
        "-Xlog:jfr+startup=off"]))
    code = subprocess.call(cmd, env=env)

    rows = [ev for f in sorted(glob.glob(os.path.join(rec_dir, "*.jfr"))) for ev in events(f)]
    report("whole run", rows)
    if a.result:
        r = json.load(open(a.result))
        t0, t1 = r["first_op_ms"], r["first_op_ms"] + r["timed_s"] * 1e3
        report(f"timed window of {a.result}", [ev for ev in rows if t0 <= ev[0] <= t1])
    if not a.keep:
        shutil.rmtree(rec_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
