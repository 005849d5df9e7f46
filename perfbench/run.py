#!/usr/bin/env python3
"""CDC benchmark runner: builds the engine and the harness from source, then
runs one workload in a fresh JVM and forwards its output.

    python3 perfbench/run.py --workload upsert-stream --seed 1 --seconds 15 --trace 0

Run it from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.

The build is a plain scalac invocation over src/main/scala plus
perfbench/src, cached under .bench_build/ by a hash of every source file. All
scratch files (feeds, sink tables, checkpoints, Spark local dirs) live under
.bench_build/ and are removed when the run ends.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("upsert-stream", "evolve-shards", "query-suite")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (JavaModuleOptions.defaultModuleOptions()).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [
    "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:ReservedCodeCacheSize=512m",
    "-Dfile.encoding=UTF-8", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false",
] + [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(BENCH_DIR, "src")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not files:
        fail(f"engine sources not found under {main}: run from a full checkout")
    files += sorted(glob.glob(os.path.join(bench, "**", "*.scala"), recursive=True))
    return files


def build(jars):
    """Compile engine + harness once per source tree; returns the classes dir."""
    files = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(res, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(ROOT, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".ok")):
        return out, res
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(out, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler = ":".join(os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
        "scala-reflect-2.13.17.jar"))
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.path.join(jars, "*"),
           "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(out, ".ok"), "w").close()
    print(f"[perfbench] compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return out, res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    jars = spark_jars()
    classes, resources = build(jars)
    work = os.path.join(ROOT, ".bench_build", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cp = ":".join([classes, resources, os.path.join(jars, "*")])
    cmd = (["java"] + JVM_FLAGS +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dgraftbench.launchMs=%d" % int(time.time() * 1000),
            "-Dgraftbench.jvmFlags=" + " ".join(f for f in JVM_FLAGS if f.startswith("-X")),
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work, "--bench-dir", BENCH_DIR])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    # the watchdog kills the JVM's whole process group at the deadline, even
    # when it hangs without printing; terminating this script takes it down too
    timed_out = threading.Event()
    watchdog = threading.Timer(RUN_TIMEOUT_S, lambda: (timed_out.set(), kill()))
    watchdog.start()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                result = line
            else:
                print(line, flush=True)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            kill()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        fail("benchmark JVM timed out")
    if result is None:
        fail(f"benchmark JVM exited {code} without a result")
    json.loads(result)
    print(result, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
