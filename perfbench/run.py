#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the benchmark from source, runs
one workload in a fresh JVM and prints the result as the last stdout line.

    python3 perfbench/run.py --workload crawl-wide --seed 0 --seconds 10 --trace 0

Run it from the repository root. Workloads, metrics and their meaning are in
BENCHMARK.json and perfbench/NOTES.md. Everything the run writes stays under
the current directory: classes in .bench_build/, scratch state in
.bench_work/ (removed at exit), the full report, JVM log and trace file in
.bench_out/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# the module opens build.sbt gives its forked JVMs: Spark on JDK 17 needs
# them when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, timeout, log):
    """Runs cmd with output to log; kills it and waits if it overruns."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def log_tail(log, n=40):
    try:
        with open(log, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            fail("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars}")
    return jars


def build(root, jars):
    """Compiles src/main/scala and perfbench/scala once per source hash."""
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    if not sources or not bench:
        fail("engine sources (src/main/scala) or benchmark sources (perfbench/scala) missing")
    h = hashlib.sha256()
    for p in sources + bench + sorted(os.listdir(jars)):
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(base, exist_ok=True)
    tmp = os.path.join(base, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={base}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp]
    cmd += sources + bench
    log = os.path.join(base, "build.log")
    rc = run_bounded(cmd, BUILD_TIMEOUT_S, log)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"build failed (rc={rc}):\n{log_tail(log)}")
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--pages", type=int, help="crawl web size (crawl workloads only)")
    args = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    jars = spark_jars(root)

    classes = build(root, jars)

    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, ".bench_work", f"{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    log = os.path.join(out_dir, f"{tag}.log")
    try:
        cmd = ["java"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", work, "--data", os.path.join(root, "perfbench/data/sf0.01"),
                "--pins", os.path.join(root, "perfbench/pins.json"),
                "--result", result_path,
                "--trace-out", os.path.join(out_dir, f"{tag}.trace.json")]
        if args.pages:
            cmd += ["--pages", str(args.pages)]
        rc = run_bounded(cmd, RUN_TIMEOUT_S, log)
        if rc != 0 or not os.path.exists(result_path):
            fail(f"run failed (rc={rc}, log {log}):\n{log_tail(log)}")
        with open(result_path) as f:
            res = json.load(f)
        shutil.copy(result_path, os.path.join(out_dir, f"{tag}.result.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    section, source = ("per_layer", res["per_layer"]) if args.trace else \
        ("end_to_end", res["end_to_end"])
    metrics = {}
    for m in spec[section]:
        if m["name"] not in source:
            fail(f"metric {m['name']} missing from the run's result")
        metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
    # the full report first (metric names per workload, sample counts,
    # weather, checks), then the result line last
    print(json.dumps({"report": res["report"], "errors": res["errors"]}))
    for e in res["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
