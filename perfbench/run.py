#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result.

    python3 perfbench/run.py --workload <curate|fit> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the harness with sbt (graft's sources from ../src/main/scala plus
perfbench/src) when any source changed since the last build, then runs one
JVM at local[4]. Build output and the JVM's logs go to stderr; the last line
on stdout is the result object. Everything the run writes stays under
perfbench/ (target/ for the build, work/ for inputs and reports).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
JAR = os.path.join(HERE, "target", "scala-2.13", "graft-perfbench_2.13-0.jar")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# class-data-sharing archive of the classes a run loads, written by the first
# run after a build and mapped by every later one: it takes some seconds of
# class loading off each run's input generation and first set-up
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
SPARK_JARS = "/opt/spark/jars"
GRAFT_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (GRAFT_SRC, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "scala", "graft")):
        sys.exit("perfbench: graft's sources (src/main/scala/graft) are not beside perfbench/")
    stamp = digest()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # a clean build: an incremental one after an interrupted build can leave
    # classes missing
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "package"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=700)
    if proc.returncode != 0:
        sys.exit(f"perfbench: build failed ({proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    # output hashes and the class archive made by the previous build no longer apply
    shutil.rmtree(os.path.join(WORK, "hashes"), ignore_errors=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["curate", "fit"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # earlier C2 compilation: a run lives about a minute, and Catalyst's
    # planner otherwise stays half-compiled through the steady passes
    jit = ["-XX:Tier3InvocationThreshold=100", "-XX:Tier4InvocationThreshold=1500",
           "-XX:Tier4CompileThreshold=2000", "-XX:CICompilerCount=3"]
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    # JVM log lines (the archive's warnings among them) go to stderr, errors only
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", cds, "-Xlog:disable",
            "-Xlog:all=error:stderr"] + jit + [f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{JAR}:{SPARK_JARS}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", WORK])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: run failed ({proc.returncode})")
    result = json.loads(lines[-1])
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
