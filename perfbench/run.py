#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload store|batch --seed N \\
        --seconds S --trace 0|1 [--scale full|smoke]

Builds graft and the benchmark from source (perfbench/build.py), then
runs the workload in one JVM on local[4] with a fresh warehouse, Spark
local directory and temp directory under .bench_build/runs, removed
afterwards. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer ones
(--trace 1); the line before it, {"detail": ...}, holds every figure,
the host and the failures. A traced run also writes its spans to
.bench_build/traces/. See perfbench/GLOSSARY.md for the metrics.

Extra workloads for the benchmark's own use: `record` prints the batch
query checksums for perfbench/checksums.json; `listener` prints the job,
stage and task counts of one query seen by two fresh listeners.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def launch(a, trace, classpath, stamp):
    """Run the benchmark JVM once; return its JSON lines (detail, result)."""
    name = f"{a.workload}-{a.scale}-seed{a.seed}-trace{trace}"
    for d in ("runs", "traces", "logs", "inputs"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=name + "-", dir=os.path.join(OUT, "runs"))
    warehouse = os.path.join(tmp, "warehouse")
    log_path = os.path.join(OUT, "logs", name + ".log")
    proc = None
    try:
        for d in ("local", "tmp"):
            os.makedirs(os.path.join(tmp, d))
        # saveAsTable in the in-memory catalog collides with leftover
        # table locations: a run only ever starts on an empty warehouse
        if os.path.exists(warehouse) and os.listdir(warehouse):
            sys.exit(f"setup failed: warehouse {warehouse} is not empty")
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env["GRAFT_WAREHOUSE"] = warehouse
        cmd = (["java"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
               ["-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Dspark.local.dir=" + os.path.join(tmp, "local"),
                "-Djava.io.tmpdir=" + os.path.join(tmp, "tmp"),
                "-cp", classpath, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(trace),
                "--scale", a.scale,
                "--inputs", os.path.join(OUT, "inputs", f"{stamp[:12]}-{a.scale}"),
                "--warehouse", warehouse,
                "--checksums", os.path.join(HERE, "checksums.json"),
                "--spans", os.path.join(OUT, "traces", name + ".spans.jsonl"),
                "--commit", commit() or "source-" + stamp[:12]])
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit(f"{name}: no result within {JVM_TIMEOUT_S} s (log: {log_path})")
        lines = [ln for ln in out.splitlines() if ln.startswith("{")]
        if proc.returncode != 0 or not lines:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            sys.exit(f"{name}: benchmark process exited with {proc.returncode}")
        return lines
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


def untraced_pass_s(a, classpath, stamp):
    """pass_s of the untraced runs kept for this workload, run length and
    build; when there is none yet, make one with this run's seed.
    """
    d = os.path.join(OUT, "results", f"{a.workload}-{a.scale}-{a.seconds:g}s-{stamp[:12]}")
    found = [json.load(open(os.path.join(d, f)))["pass_s"]
             for f in sorted(os.listdir(d))] if os.path.isdir(d) else []
    if not found:
        keep_untraced(a, launch(a, 0, classpath, stamp), stamp)
        return untraced_pass_s(a, classpath, stamp)
    return statistics.median(found)


def keep_untraced(a, lines, stamp):
    d = os.path.join(OUT, "results", f"{a.workload}-{a.scale}-{a.seconds:g}s-{stamp[:12]}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"seed{a.seed}.json"), "w") as fh:
        json.dump({"pass_s": json.loads(lines[-1])["metrics"]["pass_s"]["value"]}, fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["store", "batch", "record", "listener"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    a = ap.parse_args()

    try:
        classpath, stamp = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    if a.workload in ("record", "listener"):
        print(launch(a, 0, classpath, stamp)[-1])
        return
    if a.trace == 0:
        lines = launch(a, 0, classpath, stamp)
        keep_untraced(a, lines, stamp)
    else:
        # the tracing overhead: this traced run's pass time against the
        # untraced runs of the same workload and build
        base = untraced_pass_s(a, classpath, stamp)
        lines = launch(a, 1, classpath, stamp)
        detail = json.loads(lines[0])["detail"]
        traced = statistics.median(detail["pass_s_all"])
        result = json.loads(lines[-1])
        result["metrics"]["trace.overhead_pct"] = {
            "value": 100.0 * (traced / base - 1), "unit": "%"}
        lines[-1] = json.dumps(result)
    for ln in lines:
        print(ln)


if __name__ == "__main__":
    main()
