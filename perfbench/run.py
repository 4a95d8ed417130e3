#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload daily_rec --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the engine and the benchmark harness
from source on first use (into .bench_build/), generates the workload's
inputs from the seed (into .bench_work/), runs the workload in one JVM,
checks its outputs against the DuckDB oracle outside the timed region and
prints one JSON line: `correct`, `attempted`, `failed` and the end-to-end
metrics (--trace 0) or the per-layer metrics of a traced run (--trace 1).
Any step that fails or passes its deadline ends the run with a non-zero
exit code and no result line.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
RUN_DEADLINE_S = 175

# Workload sizes (README.md says why): row counts as multiples of the sf0.1
# test data, untimed warm-up days, the nominal seconds per timed day (a run
# times round(--seconds / REC_DAY_S) days, at least 3), and the click
# stream's slicing and open-loop arrival rate in slices per second (about
# half the drain rate measured when the benchmark was defined).
REC_SCALE = 0.2
REC_WARM = 1
REC_DAY_S = 7
STREAM_SCALE = 1.4
STREAM_SLICES = 140
STREAM_RATE = 5
# warm-up slices: one at a time up to the first, open loop up to the second,
# one backlog up to the third
STREAM_WARM = (2, 16, 26)
STREAM_ARRIVAL_SHARE = 0.5
STREAM_DRAINS = 3

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "records_per_s": "1/s",
              "retained_heap_mb": "MB"}
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.plan_ms": "ms", "spark.idle_ms": "ms", "spark.exec_run_ms": "ms",
    "spark.exec_cpu_ms": "ms", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_ms": "ms", "spark.spill_bytes": "bytes", "spark.gc_ms": "ms",
    "io.scan_ms": "ms", "io.rows_read": "count", "io.bytes_read": "bytes",
    "text.tfidf_ms": "ms", "text.textrank_ms": "ms", "text.profile_rows": "count",
    "sim.score_ms": "ms", "sim.pairs_joined": "count", "sim.pairs_kept": "count",
    "sim.kept_ratio": "ratio",
    "pipelines.rank_ms": "ms", "pipelines.hot_ms": "ms", "pipelines.eval_ms": "ms",
    "ext.minhash_ms": "ms", "ext.lsh_ms": "ms", "ext.candidates": "count",
    "ext.jaccard_ms": "ms", "ext.verified_ratio": "ratio", "ext.cc_ms": "ms",
    "runtime.shared_stages": "count", "runtime.shared_build_ms": "ms",
    "runtime.cached_bytes": "bytes",
    "streaming.batches": "count", "streaming.batch_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.plan_ms": "ms", "streaming.wal_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.backlog_slices": "count", "streaming.generator_late_ms": "ms",
    "trace.op_s": "s",
}
WORKLOADS = ("daily_rec", "click_stream", "faults")


class RunError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m:
        raise RunError("cannot find Spark's jars: set SPARK_HOME")
    return m.group(1)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise RunError(f"no engine sources under {ROOT}/src/main/scala: "
                       "run from the repository root")
    return engine + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build():
    """Compiles the engine and the harness with scalac when the sources
    changed since the last build."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(p.encode())
        digest.update(open(p, "rb").read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{j}-2.13.*.jar"))[0]
                        for j in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", os.path.join(jars, "*")] + srcs
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if p.returncode != 0:
        raise RunError("build failed:\n" + p.stdout[-4000:] + p.stderr[-4000:])
    open(stamp, "w").write(digest.hexdigest())
    return classes


def heap():
    """Half of MemTotal, clamped to 2-8 GiB (the tier-1 test sizing)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def run_jvm(classes, wl_dir, params, deadline_s):
    tmp = os.path.join(wl_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap()}", f"-Xmx{heap()}",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Main"] + [f"{k}={v}" for k, v in params.items()])
    with open(os.path.join(wl_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=deadline_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RunError(f"step 'workload run' passed its {deadline_s:.0f} s deadline")
    if code != 0:
        tail = open(os.path.join(wl_dir, "jvm.log")).read()[-3000:]
        raise RunError(f"workload JVM exited with {code}:\n{tail}")
    return json.load(open(params["result"]))


def drain_cuts(sizes, seconds):
    """First slice of each drain backlog (and the end): the slices after the
    warm-up and arrival phases, split into STREAM_DRAINS runs of about equal
    event counts."""
    first = STREAM_WARM[-1] + round(STREAM_RATE * seconds * STREAM_ARRIVAL_SHARE)
    rest = sizes[first:]
    total, acc, cuts = sum(rest), 0, [first]
    for i, n in enumerate(rest):
        acc += n
        if acc >= total * len(cuts) / STREAM_DRAINS and len(cuts) < STREAM_DRAINS:
            cuts.append(first + i + 1)
    return cuts + [len(sizes)]


def tail_stat(samples):
    """(percentile, value) of the highest percentile with at least 10 samples
    beyond it, or None when there are too few samples."""
    n = len(samples)
    p = int((1 - 10 / n) * 100) if n else 0
    if n < 20 or p < 50:
        return None
    return min(p, 99), statistics.quantiles(samples, n=100, method="inclusive")[min(p, 99) - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build()
    t_setup = time.time()
    wl_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(wl_dir, ignore_errors=True)
    data, out = os.path.join(wl_dir, "data"), os.path.join(wl_dir, "out")
    os.makedirs(out)
    params = {"workload": a.workload, "data": data, "out": out, "seconds": a.seconds,
              "trace": a.trace, "result": os.path.join(wl_dir, "result.json")}
    if a.workload == "daily_rec":
        order, clicks = gen.daily_rec(a.seed, data, REC_SCALE)
        params.update(days=",".join(order[:-REC_WARM]), warm=",".join(order[-REC_WARM:]),
                      count=max(3, round(a.seconds / REC_DAY_S)))
    elif a.workload == "click_stream":
        jitter, sizes = gen.click_stream(a.seed, data, STREAM_SLICES, STREAM_SCALE)
        os.makedirs(os.path.join(data, "landed"))
        params.update(rate=STREAM_RATE, warm=",".join(map(str, STREAM_WARM)),
                      jitter=",".join(map(str, jitter)),
                      drains=",".join(map(str, drain_cuts(sizes, a.seconds))))

    t_gen = time.time()
    # the deadline counts from the end of the build: a first run may build
    deadline = RUN_DEADLINE_S - (time.time() - t_setup)
    r = run_jvm(classes, wl_dir, params, deadline)
    t_jvm = time.time()
    samples = [float(x) for x in r["samples"]]
    failed = len(r["failures"])
    for f in r["failures"]:
        print(f"[perfbench] failed operation: {f}", file=sys.stderr)

    check_s = max(10.0, RUN_DEADLINE_S - (time.time() - t_setup) - 5)
    if a.workload == "daily_rec":
        bad, why = oracle.daily_rec(out, data, r["done"], check_s)
        failed += sum(1 for d in r["done"] if d in bad)
        records = sum(clicks[d] for d in r["done"]) / r["timed_s"]
    elif a.workload == "click_stream":
        sinks = {q: r[f"sink:{q}"].split("|") for q in ("q36_streaming_hot", "q66_interval_join")}
        ok, why = oracle.click_stream(out, data, sinks, check_s)
        failed = failed if ok else r["attempted"]
        # the median backlog: a stall of the shared host in one backlog
        # moves it less than the total over the three backlogs
        records = statistics.median(sum(sizes[lo:hi]) / secs for lo, hi, secs in r["drains"])
    else:
        why, records = [], 1.0
    for w in why:
        print(f"[perfbench] oracle mismatch: {w}", file=sys.stderr)
    if not samples:
        raise RunError("no operation succeeded")

    if a.trace:
        layer = {k[len("layer:"):]: v for k, v in r.items() if k.startswith("layer:")}
        if layer.get("sim.pairs_joined") and "sim.pairs_kept" in layer:
            layer["sim.kept_ratio"] = layer["sim.pairs_kept"] / layer["sim.pairs_joined"]
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise RunError(f"layer metrics missing from PER_LAYER: {sorted(unknown)}")
        # every workload reports every metric; a layer that does no work on
        # this workload (streaming on daily_rec; io, text, sim, pipelines,
        # ext and runtime on click_stream) records nothing and reads 0
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": r["first_op_ms"] / 1e3 - t_setup,
                  "op_p50_s": statistics.median(samples),
                  "records_per_s": records, "retained_heap_mb": r["retained_heap_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    tail = tail_stat(samples)
    phases = {"build": t_setup - T_PROCESS, "inputs": t_gen - t_setup,
              "jvm_to_first_op": r["first_op_ms"] / 1e3 - t_gen, "timed": r["timed_s"],
              "jvm_total": t_jvm - t_gen, "check": time.time() - t_jvm}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "ops": len(samples),
        "samples_s": [round(x, 3) for x in samples[:40]], "done": r.get("done"),
        "drains": r.get("drains"),
        "op_tail": None if tail is None else {"percentile": tail[0], "s": tail[1]},
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "info": {k[5:]: v for k, v in r.items() if k.startswith("info:")},
    }), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": int(r["attempted"]),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # every failed step ends the run without a result line
        print(f"[perfbench] {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(2)
