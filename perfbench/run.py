#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--scale <f>] [--corrupt <0|1>]

Run from the repository root. The engine's sources (src/main/scala) and the
benchmark's (perfbench/src) are compiled together with the Scala compiler
that ships in the Spark distribution into .bench_build/classes-<hash>; a
build is reused while no source changes. The benchmark JVM's stdout passes
through; its last line is the result object.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        found += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return found


def jars():
    """The Spark jars the repository's build compiles against (build.sbt's
    unmanagedBase), else $SPARK_HOME/jars."""
    where = None
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        where = m and m.group(1)
    except OSError:
        pass
    if not where and os.environ.get("SPARK_HOME"):
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    js = sorted(glob.glob(os.path.join(where or "", "*.jar")))
    if not js:
        fail("no Spark jars found: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars")
    return js


def build():
    """Compile engine + benchmark once per source hash; return the classes dir."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from the repository root")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = jars()
    compiler = [j for j in cp if os.path.basename(j).startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    t0 = time.time()
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(cp)] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", default="1")
    ap.add_argument("--corrupt", default="0", choices=["0", "1"])
    a = ap.parse_args()

    classes = build()
    tmpdir = os.path.join(BUILD, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    jvm = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=256m",
           f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}"]
    for p in JDK17_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", os.pathsep.join([classes] + jars()), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", a.scale, "--corrupt", a.corrupt]
    proc = subprocess.Popen(jvm, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    def stop(signum, _frame):  # the JVM runs in its own session: take it down too
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(os.path.join(BUILD, "work", f"run-{proc.pid}"), ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            print(line, end="", flush=True)
            if line.strip():
                last = line.strip()
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        # a killed JVM leaves its scratch space behind
        shutil.rmtree(os.path.join(BUILD, "work", f"run-{proc.pid}"), ignore_errors=True)
    if timed_out.is_set():
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        sys.exit(proc.returncode)
    if not last or not last.startswith("{"):
        fail("the benchmark printed no result")


if __name__ == "__main__":
    main()
