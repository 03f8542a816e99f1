#!/usr/bin/env python3
"""Build and run the recursive-query benchmark.

Run from the repository root:

    python3 dlbench/run.py [--heap 3g] [--spark key=value ...] \\
        --workload tc_deep --seed 1 --seconds 12 --trace 0

The first run compiles the engine (the repository's own sbt build) and
the benchmark with sbt, and records the runtime classpath under
dlbench/target. Later runs rebuild only when a source file changed, then
start one JVM. `{cores}` in a --spark value stands for the number of
cores this process may use. The last line of stdout is the JSON result;
sbt and Spark logs go to stderr.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAMP = os.path.join(HERE, "target", "dlbench-classpath.json")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# the repository's build.sbt passes to forked runs.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]
]


def fail(msg, code=2):
    print(f"dlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when sources changed; return the runtime classpath."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export dlbench/Runtime/fullClasspath"]
    try:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish in {BUILD_LIMIT_S} s", 1)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (sbt exit {proc.returncode})", 1)
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--heap", default="3g", help="driver JVM heap")
    ap.add_argument("--jvm", action="append", default=[], metavar="OPTION", help="extra JVM option")
    ap.add_argument("--spark", action="append", default=[], metavar="KEY=VALUE")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft", "datalog")):
        fail("engine sources not found: run from a checkout of the repository")
    classpath = build()

    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xms{args.heap}", f"-Xmx{args.heap}", f"-Djava.io.tmpdir={tmp}", *args.jvm, *ADD_OPENS,
           "-cp", classpath, "dlbench.Main",
           "--workload", args.workload, "--seed", args.seed, "--seconds", args.seconds,
           "--trace", args.trace, "--cores", str(cores)]
    for kv in args.spark:
        cmd += ["--spark", kv]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # spark.local.dir decides where Spark writes
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_LIMIT_S, proc.kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        proc.wait()
    finally:
        watchdog.cancel()
    if proc.returncode < 0:
        fail(f"benchmark killed by signal {-proc.returncode} (time limit {RUN_LIMIT_S} s)", 1)
    if proc.returncode != 0:
        fail(f"benchmark exited with code {proc.returncode}", proc.returncode)
    try:
        json.loads(last)
    except ValueError:
        fail("benchmark printed no JSON result", 1)


if __name__ == "__main__":
    main()
