#!/usr/bin/env python3
"""Layer benchmark: run one workload against the library and print its metrics.

    python3 layerbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (layerbench/build.sbt) and caches the build
under layerbench/target; later runs reuse it while no source changes. Each
run starts a fresh JVM, which prints one line per metric and writes its
result; the result is printed here as the last line of standard output:

    {"correct": true, "attempted": 240, "failed": 0, "metrics": {...}}

The exit code is 0 only when the run completed and every answer was right.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY = os.path.join(ROOT, "src", "main")
BUILD_STAMP = os.path.join(HERE, "target", "layerbench-build.json")
RUNS = os.path.join(HERE, ".runs")
WORKLOADS = ("olap_read", "log_churn", "dml_dv", "dedup_corpus")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# Spark on JDK 17 outside spark-submit needs these (spark-submit adds them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# One heap for the Spark driver and all local executor threads, well inside a
# 15 GiB host; a large code cache keeps many generated plans compiled. A
# run lives about a minute, so the JIT stops at its quick first tier: the
# JVM then reaches its steady speed within the set-up instead of
# recompiling through the measured rounds. No perf-data file, so the run
# writes nothing outside the checkout.
JVM_OPTS = ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:TieredStopAtLevel=1",
            "-XX:-UsePerfData"]


def fail(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (LIBRARY, os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiled classpath, rebuilding with sbt when any source changed."""
    digest = source_digest()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_LIMIT_S}s")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "layerbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(LIBRARY, "scala", "graft")):
        fail(f"library sources not found under {LIBRARY}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at a Spark installation")

    classpath = build()
    started = time.monotonic()
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")
    cmd = (["java"] + JVM_OPTS
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath, "layerbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--dir", run_dir, "--out", result_path,
              "--spans", os.path.join(RUNS, f"spans-{args.workload}.jsonl")])
    try:
        with open(os.path.join(run_dir, "stdout.log"), "w") as out, \
                open(os.path.join(run_dir, "stderr.log"), "w") as err:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
            proc = subprocess.Popen(cmd, stdout=out, stderr=err, stdin=subprocess.DEVNULL,
                                    cwd=run_dir, env=env, start_new_session=True)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = None
        with open(os.path.join(run_dir, "stdout.log")) as f:
            report = [ln.rstrip() for ln in f if ln.startswith("[layerbench]")]
        with open(os.path.join(run_dir, "stderr.log")) as f:
            errors = f.read()
        if rc != 0 or not os.path.exists(result_path):
            sys.stderr.write(errors[-6000:])
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}")
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in report:
        print(line)
    for line in errors.splitlines():
        if "[layerbench]" in line:
            print(line, file=sys.stderr)
    print(f"[layerbench] wall {time.monotonic() - started:.1f}s")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
