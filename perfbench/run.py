#!/usr/bin/env python3
"""Repository benchmark: the sketch->cluster job on one workload.

Run from the repository root:

    python3 perfbench/run.py --workload dense --seed 1 --seconds 20 --trace 0

Builds the program together with the benchmark's code (sbt, perfbench/build.sbt)
when the sources changed since the last build, then runs one JVM for the
workload. Prints a one-line path report, then the result object as the last
line of stdout. Exits non-zero without a result when the build or the run fails.
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 170
HEAP = "2g"
ARCHIVE = os.path.join(TARGET, "classes.jsa")

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build compiles, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    tops = [PROGRAM_SRC, os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java_cmd(cp, work, args, extra=()):
    cmd = ["java", "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "--add-modules", "jdk.incubator.vector"]
    cmd += list(extra)
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.Main", "--work", work] + list(args)


def run_jvm(cmd, work):
    """Run one benchmark JVM in `work`; returns its exit code, None on timeout."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "run.log"), "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def build():
    """Compile when the sources changed, then record the class path and a
    class-data-sharing archive of one small training run, which roughly
    halves JVM and Spark start-up in every later run."""
    stamp = os.path.join(TARGET, "build.stamp")
    classpath = os.path.join(TARGET, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(classpath):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(classpath) as cf:
                    return cf.read().strip()
    for f in (stamp, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name a Spark distribution (its jars are the class path)", 3)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        # the sbt JVM needs the vector module resolved: its analysis of the
        # compiled Java sources loads VectorMinHash
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-J--add-modules=jdk.incubator.vector",
             "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=840).returncode
    if rc != 0 or not os.path.exists(classpath):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed (log: %s)" % log, 3)
    with open(classpath) as cf:
        cp = cf.read().strip()
    work = os.path.join(WORK, "train")
    rc = run_jvm(java_cmd(cp, work, ["--workload", "sparse_decode", "--seed", "0",
                                     "--seconds", "1", "--trace", "1", "--scale", "0.02"],
                          ["-XX:ArchiveClassesAtExit=" + ARCHIVE]), work)
    if rc != 0 or not os.path.exists(ARCHIVE):
        with open(os.path.join(work, "run.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("training run for the class-data archive failed", 3)
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="dense, skew or sparse_decode")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail("program sources not found under %s" % PROGRAM_SRC, 2)
    cp = build()
    work = os.path.join(WORK, args.workload)
    rc = run_jvm(java_cmd(cp, work, ["--workload", args.workload, "--seed", str(args.seed),
                                     "--seconds", str(args.seconds), "--trace", str(args.trace)],
                          ["-XX:SharedArchiveFile=" + ARCHIVE]), work)
    log = os.path.join(work, "run.log")
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("run %s (log: %s)" % ("timed out" if rc is None else "exited %s" % rc, log), 4)
    with open(result) as fh:
        doc = json.load(fh)
    shutil.rmtree(os.path.join(work, "corpus.parquet"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    print(json.dumps(doc["report"], sort_keys=False))
    print(json.dumps(doc["result"], sort_keys=False))


if __name__ == "__main__":
    main()
