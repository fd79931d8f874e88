#!/usr/bin/env python3
"""Sync-pipeline benchmark: build, run one workload, print its result.

Run from the root of a checkout:

    python3 perfbench/run.py --workload delta_ticks --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (sbt, offline) the first time,
then runs one workload in a fresh JVM at local[nproc] with a fixed 2 GiB heap
and the parallel GC, inside a fresh work root under .bench_build/work that is
deleted on exit. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`. The exit code is 0 only when
every output check passed. See perfbench/NOTES.md.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

WORKLOADS = ("delta_ticks", "curation_batches")
E2E = ("setup_s", "write_s", "read_s", "space_amp", "peak_rss_mb")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_build", "work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
# beside the classes it vouches for: a stamp matches only the sources
# this checkout's own classes were compiled from
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")

child = None
work = None


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cleanup():
    global child, work
    if child is not None and child.poll() is None:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
    child = None
    if work is not None:
        shutil.rmtree(work, ignore_errors=True)
        work = None


def on_signal(signum, _frame):
    cleanup()
    sys.exit(128 + signum)


def spark_jars():
    """The Spark jar directory the engine's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: build.sbt sets no unmanagedBase")
    return m.group(1)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless the sources match the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources at src/main/scala "
                         "(run from the root of a checkout)")
    want = stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return False
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    log("perfbench: building engine and harness (sbt compile)")
    t0 = time.time()
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile"], cwd=BENCH, env=env,
                         stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0:
        raise SystemExit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(want)
    log("perfbench: built in %.1f s" % (time.time() - t0))
    return True


def run_jvm(args, deadline):
    global child, work
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = CLASSES + os.pathsep + os.path.join(spark_jars(), "*")
    cmd = (["java", "-Xmx" + HEAP, "-XX:+UseParallelGC",
            "-XX:MetaspaceSize=256m",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"] +
           [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cpus", str(len(os.sched_getaffinity(0)))])
    child = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                             stderr=sys.stderr, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True)
    # a JVM that hangs silently is killed at the deadline; its stdout then
    # closes and the read loop below ends
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    watchdog = threading.Timer(max(1.0, deadline - time.time()), kill)
    watchdog.start()
    result = None
    try:
        for line in child.stdout:
            line = line.rstrip("\n")
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                log(line)
        code = child.wait()
    finally:
        watchdog.cancel()
    if timed_out.is_set():
        log("perfbench: run exceeded its deadline; killed")
        return None, None
    cleanup()
    return code, result


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        built = build()
        code, result = run_jvm(
            args, (time.time() if built else started) + RUN_DEADLINE_S)
    finally:
        cleanup()
    if result is None:
        log("perfbench: no result (jvm exit code %s)" % code)
        return 1
    if not args.trace:
        missing = [m for m in E2E if m not in result["metrics"]]
        if missing:
            log("perfbench: metrics missing: %s" % missing)
            result["correct"] = False
    print(json.dumps(result))
    return 0 if code == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
