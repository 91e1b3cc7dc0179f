#!/usr/bin/env python3
"""Benchmark entry point: build the program from this checkout, then run one
workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds (sbt, offline) into
.bench_build/ and writes the batch workload's generated tables there; later
runs reuse both until a source file changes. The last line of standard
output is the JSON result. Exit codes: 0 correct, 1 an output check
failed, 2 the program's sources are missing, 3 the build or the run failed.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("stream-inmem-raw", "stream-http-typed", "batch-queries")
RUN_TIMEOUT_S = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# the one child process (sbt or java) running at a time; a signal that
# stops this script stops it too
CHILD = None


def stop_child(signum=None, frame=None):
    if CHILD is not None and CHILD.poll() is None:
        CHILD.kill()
        CHILD.wait()
    if signum is not None:
        sys.exit(128 + signum)


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java_cmd(cp, main_args, heap, cds):
    """The harness JVM. `cds` is a class-data archive: written at exit by
    the build's table-generation JVM, read by every run (faster start)."""
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(BUILD, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    log4j = os.path.join(HERE, "log4j2.properties")
    share = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
             else f"-XX:ArchiveClassesAtExit={cds}")
    return (["java", f"-Xmx{heap}", share, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={log4j}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"] + main_args)


def run_checked(cmd, cwd, timeout, what):
    global CHILD
    proc = CHILD = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE,
                                    stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"{what} timed out after {timeout} s", 3)
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(f"{what} failed with exit code {proc.returncode}", 3)
    return out


def build():
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = tree_digest([os.path.join(HERE, "build.sbt"),
                             os.path.join(HERE, "project", "build.properties"),
                             os.path.join(HERE, "src", "main"), PROGRAM_SRC])
        stamp_file = os.path.join(BUILD, "build.stamp")
        cp_file = os.path.join(BUILD, "target", "runtime-classpath.txt")
        if not (os.path.exists(stamp_file) and os.path.exists(cp_file)
                and open(stamp_file).read() == stamp):
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
            t0 = time.time()
            run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "writeClasspath"], HERE, 840, "sbt build")
            print(f"[perfbench] built in {time.time() - t0:.1f} s")
            with open(stamp_file, "w") as f:
                f.write(stamp)
        cp = open(cp_file).read().strip()
        # the batch workload's tables: generated once, from the generator's
        # source alone
        data_stamp = tree_digest([os.path.join(HERE, "src", "main", "scala",
                                               "perfbench", "TableGen.scala")])[:16]
        data = os.path.join(BUILD, "tables-" + data_stamp)
        cds = os.path.join(BUILD, "classes-" + stamp[:16] + ".jsa")
        if not os.path.exists(os.path.join(data, "_DONE")) or not os.path.exists(cds):
            for old in os.listdir(BUILD):
                if old.startswith(("tables-", "classes-")):
                    p = os.path.join(BUILD, old)
                    shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
            run_checked(java_cmd(cp, ["--gen-tables", data], "2g", cds), ROOT,
                        600, "table generation")
            open(os.path.join(data, "_DONE"), "w").close()
        return cp, data, cds


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "scala", "graft", "streaming",
                                       "TagPipeline.scala")):
        fail(f"program sources not found under {PROGRAM_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp, data, cds = build()
    cmd = java_cmd(cp, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--state", BUILD, "--data", data,
        "--expected", os.path.join(HERE, "expected_checksums.txt")],
        "4g", cds)
    global CHILD
    proc = CHILD = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    # a watchdog kills the run at its limit, which ends the read loop below
    watchdog = threading.Timer(RUN_TIMEOUT_S, stop_child)
    watchdog.start()
    result = None
    for line in proc.stdout:
        if line.startswith("PERFBENCH_RESULT "):
            result = line[len("PERFBENCH_RESULT "):].strip()
        else:
            sys.stdout.write(line)
            sys.stdout.flush()
    proc.wait()
    timed_out = not watchdog.is_alive()
    watchdog.cancel()
    shutil.rmtree(os.path.join(BUILD, "jvm-tmp"), ignore_errors=True)
    if timed_out:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    if proc.returncode != 0 or result is None:
        fail(f"run failed with exit code {proc.returncode}", 3)
    parsed = json.loads(result)
    print(result)
    sys.stdout.flush()
    sys.exit(0 if parsed["correct"] else 1)


if __name__ == "__main__":
    main()
