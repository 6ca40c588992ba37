#!/usr/bin/env python3
"""Run one workload of the CDC pipeline benchmark.

    python3 perfbench/run.py --workload dup_burst --seed 1 --seconds 20 --trace 0

Builds the benchmark (the engine's sources plus perfbench/src) with sbt on
first use, caches the classpath under perfbench/target, then runs
graft.perfbench.PipelineBench in one JVM. Its last stdout line, one JSON
object with the run's metrics, is this script's last stdout line; every
other output goes to stderr. Runs write only under perfbench/work/.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench.classpath")
STAMP_FILE = os.path.join(TARGET, "bench.stamp")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
WORKLOADS = ("dup_burst", "range_mor")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(REPO, "build.sbt")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH_FILE) as fh:
                    return fh.read().strip()
    log("building (sbt compile)")
    t = time.time()
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if os.pathsep in l and "classes" in l
          and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp[-1])
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t:.0f} s")
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "cdc",
                                       "ManifestStore.scala")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a "
            "checkout of the repository")
        return 2
    cp = build()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.trace}")
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.perfbench.PipelineBench",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", os.path.join(work, "run"),
    ]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        log(f"run exceeded {RUN_LIMIT_S} s; killed")
        return 1
    result = None
    for line in out.splitlines():
        try:
            parsed = json.loads(line)
        except ValueError:
            parsed = None
        if isinstance(parsed, dict) and "metrics" in parsed:
            result = line
        else:
            sys.stderr.write(line + "\n")
    if result is not None:
        print(result, flush=True)
    return proc.returncode if result is not None or proc.returncode else 1


if __name__ == "__main__":
    sys.exit(main())
