#!/usr/bin/env python3
"""Run one perfbench workload from the root of a checkout.

    python3 perfbench/run.py --workload kg_build --seed 7 --seconds 10 --trace 0

Builds the benchmark (perfbench/build.sbt compiles the library sources in
src/main/scala together with perfbench/src) when the sources changed, then
runs perfbench.Main in one JVM on local[4]. Prints a report line, then as
the last line the result object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Exits non-zero without a result when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
JAR = os.path.join(BENCH, "target", "perfbench.jar")
CDS = os.path.join(BENCH, "target", "perfbench.jsa")
STAMP = os.path.join(BENCH, "target", "perfbench-sources.sha256")
WORK = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# JDK 17 module openings Spark needs outside spark-submit; the same list
# as the root build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit is None:
        fail("Spark not found: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(digest, spark):
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, SPARK_HOME=spark)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    # class-data sharing needs a jar, not a directory, on the class path
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, fs in sorted(os.walk(CLASSES)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))
    # A class-data-sharing archive of the classes one kg_build set-up loads
    # cuts JVM and session start-up by several seconds in every later run.
    # Without it the runs load classes normally and setup_s is longer; each
    # report says whether the archive was used ("cds").
    if os.path.exists(CDS):
        os.remove(CDS)
    try:
        r = subprocess.run(java_cmd(spark, [f"-XX:ArchiveClassesAtExit={CDS}"], "kg_build", 0, 0, 0),
                           cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=RUN_LIMIT_S)
        if r.returncode != 0:
            print(f"perfbench: class-data-sharing run exited {r.returncode}", file=sys.stderr)
    except subprocess.TimeoutExpired:
        print("perfbench: class-data-sharing run timed out", file=sys.stderr)
    if not os.path.exists(CDS):
        print("perfbench: no class-data-sharing archive; runs start without it", file=sys.stderr)
    shutil.rmtree(WORK, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(digest)


def java_cmd(spark, flags, workload, seed, seconds, trace):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.shuffle.sort.bypassMergeThreshold=64"] + flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{JAR}:{os.path.join(spark, 'jars')}/*", "perfbench.Main",
                  "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", str(trace), "--work", os.path.join(WORK, "run")]


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["kg_build", "shacl_small", "dedup_docs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources under src/main/scala/graft; run from the repository root")
    spark = spark_home()
    if not os.path.isdir(os.path.join(spark, "jars")):
        fail(f"Spark jars not found under {spark}")
    digest = source_digest()
    build(digest, spark)

    load_start = os.getloadavg()[0]
    shutil.rmtree(WORK, ignore_errors=True)
    cds = os.path.exists(CDS)
    flags = [f"-XX:SharedArchiveFile={CDS}"] if cds else []
    cmd = java_cmd(spark, flags, a.workload, a.seed, a.seconds, a.trace)
    t0 = time.time()
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(WORK, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s")
    wall = time.time() - t0
    shutil.rmtree(WORK, ignore_errors=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stdout)
        fail(f"benchmark JVM exited {r.returncode} without a result")
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    load_end = os.getloadavg()[0]
    nproc = len(os.sched_getaffinity(0))
    report.update({
        "nproc": nproc, "loadavg1_start": load_start, "loadavg1_end": load_end,
        "commit": commit(), "source_sha256": digest[:16], "process_wall_s": round(wall, 3),
        "cds": cds,
        # flagged, never dropped: the metrics are what this run measured.
        # late: the run came within 30 s of the 180 s a run may take;
        # noisy: its operations' walls spread by more than a quarter
        "late": wall > 150,
    })
    walls = [float(x) for x in str(report.get("op_wall_s", "")).split(",") if x]
    if len(walls) >= 2:
        med = sorted(walls)[len(walls) // 2]
        report["noisy"] = (max(walls) - min(walls)) / med > 0.25
    print(json.dumps({"report": report}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
