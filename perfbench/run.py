#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload kg_templated --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout of the repository. The first run builds
the benchmark program (the repository's main sources plus
perfbench/src) with sbt into .bench_build/; later runs reuse that build
while the sources are unchanged. Each run then starts one JVM, which writes
its inputs and outputs under .bench_build/runs/ and deletes them before it
exits. The last line of standard output is the result as one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Progress and Spark's own log go to standard error.

Workloads, metrics and the meaning of every number are described in
perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")
WORKLOADS = ("kg_templated", "kg_diverse")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit; the same list as the repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, as sorted paths relative to ROOT."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode() + b"\0")
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(src_digest):
    """Compile with sbt unless the last build saw the same sources."""
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as f:
            if f.read().strip() == src_digest:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building (sbt compile)", file=sys.stderr, flush=True)
    with open(os.path.join(BUILD, "build.log"), "wb") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         BUILD_TIMEOUT_S, cwd=HERE, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(STAMP, "w") as f:
        f.write(src_digest + "\n")


def main():
    # a SIGTERM unwinds through run_bounded, which kills the JVM's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4.x install with a jars/ directory")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    src_digest = digest(source_files())
    build(src_digest)

    run_dir = os.path.join(BUILD, "runs", str(os.getpid()))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")])
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", run_dir, "--result", result,
              "--data", os.path.join(HERE, "data"),
              "--pins", os.path.join(HERE, "pins.json"),
              "--traces", os.path.join(BUILD, "traces"),
              "--source-digest", src_digest])
    log_path = os.path.join(BUILD, "logs",
                            f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        with open(log_path, "wb") as log:
            rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr,
                             stderr=log)
        if rc != 0 or not os.path.exists(result):
            fail(f"benchmark JVM exited with {rc}; see {os.path.relpath(log_path, ROOT)}")
        with open(result) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"provenance": out["provenance"], "detail": out["detail"]}))
    print(json.dumps(out["result"]))


if __name__ == "__main__":
    main()
