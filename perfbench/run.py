#!/usr/bin/env python3
"""Pipeline benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Compiles the repository's main sources
together with the benchmark's own (perfbench/src) with the Scala compiler
that ships in Spark's jars, caches the classes under .bench_build/, then
runs one workload in one JVM. The last line of stdout is the JSON result;
the exit code is non-zero when a check fails or nothing could be built.
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

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]
WORKLOADS = ("hourly_refresh", "ingest_gate")
# a run's own time limit: a fixed allowance for JVM start and the cold
# set-up, plus a multiple of --seconds, doubled for a traced run (its
# spans, its kernel pass, and at least two operations)
SETUP_ALLOWANCE_S = 120
PER_SECOND_ALLOWANCE = 2.5
BUILD_LIMIT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (the list
# org.apache.spark.launcher.JavaModuleOptions carries).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        fail(f"no Spark 4 / Scala 2.13 jars under {jars}")
    return jars


def scala_files():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names
                      if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile once per source tree; returns the classes directory."""
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.time()
        cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
        r = subprocess.run(cmd + files, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail("compile failed")
        os.rename(tmp, out)
        # classes of older source trees
        for d in os.listdir(BUILD):
            if d.startswith("classes-") and os.path.join(BUILD, d) != out:
                shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
        print(f"[perfbench] built {len(files)} sources in "
              f"{time.time() - t0:.0f} s", file=sys.stderr)
        return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = os.path.join(BUILD, "records",
                          f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    env.pop("GRAFT_CHECKPOINT_DIR", None)
    cmd = (["java", "-Xmx3g", "-Xss16m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dderby.system.home={work}",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "graft.perfbench.PerfBench",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", os.path.join(work, "run"), "--record", record])
    limit_s = SETUP_ALLOWANCE_S + PER_SECOND_ALLOWANCE * a.seconds * (
        2 if a.trace == "1" else 1)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, start_new_session=True,
                            text=True)

    def stop(signum, _frame):
        # the JVM runs in its own session: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {limit_s:.0f} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stdout if l.startswith("[perfbench]") else sys.stderr)
    if not lines or not lines[-1].startswith("{"):
        fail(f"no result (exit {proc.returncode})")
    print(lines[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
