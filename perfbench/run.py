#!/usr/bin/env python3
"""Benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from the checkout's sources with sbt
(once per source state; later runs reuse the build in `.bench_build/`),
then runs one workload in a fresh JVM. The JVM prints the result line, a
JSON object, as the last line of standard output. Everything the run
writes stays under `.bench_build/` in the checkout.
"""

import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp.txt")

# The JVM must end within this many seconds; a run that builds first gets
# BUILD_TIMEOUT_S more.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "2g"

# What spark-submit would open on JDK 17 for a SparkSession.
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


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    singles = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = [f for f in singles if os.path.isfile(f)]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compiles the engine and the harness unless this source state is built."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources here: run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    # one build at a time: a run that finds another building waits for it
    # and then reuses its build
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked()


def build_locked():
    want = stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == want:
        return False
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cp = [l for l in lines if l and not l.startswith("[") and ".jar" in l]
    if not cp:
        fail(f"build printed no classpath; log in {log}")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1])
    with open(STAMP, "w") as fh:
        fh.write(want)
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    started = time.time()
    built = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_out = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.json")
    # a fixed, pre-touched heap keeps the peak RSS from varying with when
    # the collector chose to grow the heap
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--cores", str(cores), "--work", work, "--trace-out", trace_out]
    budget = RUN_TIMEOUT_S - (0 if built else time.time() - started)
    try:
        rc = run_bounded(cmd, max(budget, 30), cwd=ROOT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        fail(f"benchmark JVM exited with {rc}")


if __name__ == "__main__":
    main()
