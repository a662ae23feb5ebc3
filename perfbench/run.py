#!/usr/bin/env python3
"""Linkage benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload linkage_skewed --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source on first use (sbt, offline,
Spark from $SPARK_HOME/jars), then runs one workload in a fresh JVM. The
last line of standard output is the result object; the line before it is
the full record (every metric with unit and sample count, provenance).
`--size tiny` runs the smoke-test sizes.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
# A run must end within 180 s, or 900 s when it first builds. The JVM gets
# what is left of that limit after the build, less a margin for clean-up.
# Measured on a 4-core host: untraced runs take 35-70 s; the traced
# linkage_batch run, which also runs the stream companion, is the longest at
# 105-110 s. A run slower than the limit is killed and reported as failed.
RUN_LIMIT_S = 180
BUILD_RUN_LIMIT_S = 900
MARGIN_S = 8
BUILD_TIMEOUT_S = 680

WORKLOADS = ("linkage_batch", "linkage_skewed", "linkage_stream", "dedup_docs")

# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt).
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
    """Every file the build reads, in a stable order."""
    out = []
    for top in (LIBRARY, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            out += [os.path.join(d, n) for n in names]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_sha():
    """HEAD of the checkout when it is a git work tree, else "none"."""
    if not os.path.isdir(os.path.join(ROOT, ".git")) or shutil.which("git") is None:
        return "none"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                       text=True, timeout=30)
    return r.stdout.strip() if r.returncode == 0 else "none"


def child_env(tmp):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build(sha, tmp):
    """Compile with sbt unless the stamp says these sources are built;
    returns whether it compiled."""
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if fh.read().strip() == sha:
                return False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log = os.path.join(BUILD_DIR, "perfbench-build.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                               env=child_env(tmp), timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed; see {log}")
    with open(STAMP, "w") as fh:
        fh.write(sha + "\n")
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="default", choices=("default", "tiny"))
    a = ap.parse_args()
    start = time.monotonic()

    if not os.path.isdir(os.path.join(LIBRARY, "scala", "graft")):
        fail(f"library sources not found under {LIBRARY}; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4.1 distribution")

    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sha = source_sha()
    limit = BUILD_RUN_LIMIT_S if build(sha, tmp) else RUN_LIMIT_S

    work = os.path.join(BUILD_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Dfile.encoding=UTF-8", "-Duser.language=en", "-Duser.country=US",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD_DIR, 'warehouse')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--size", a.size,
        "--work", work, "--out", os.path.join(BUILD_DIR, "traces"), "--source-sha", sha,
        "--git-sha", git_sha(),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(tmp))
    try:
        code = proc.wait(timeout=limit - MARGIN_S - (time.monotonic() - start))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run would exceed its {limit} s limit")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with {code}")


if __name__ == "__main__":
    main()
