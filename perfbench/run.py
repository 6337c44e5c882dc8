#!/usr/bin/env python3
"""Benchmark runner for graft's shipped CLI path (`graft.app.Main`).

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Builds the program from its sources together with the benchmark harness
(sbt, once per checkout; rebuilt when a source changes), runs one
benchmark JVM and prints the result JSON as the last line of stdout.
Exits non-zero, printing no result, when the build, the run or a check
fails.
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
TARGET = os.path.join(HERE, "target")
JAR = os.path.join(TARGET, "scala-2.13", "graft-perfbench_2.13-0.1.0-SNAPSHOT.jar")
STAMP = os.path.join(TARGET, "perfbench.stamp")
# class-data-sharing archive of the classes a run loads, dumped by the
# self-test at build time; cuts JVM and SparkSession start-up
CDS = os.path.join(TARGET, "perfbench.jsa")
WORK = os.path.join(HERE, "work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

WORKLOADS = ["chain-threads", "resume-threads"]

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
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


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness, then runs the self-test,
    which also dumps the class-data-sharing archive. Skipped when the
    sources are unchanged since the last successful build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no program sources (src/main/scala) next to the benchmark")
        return False
    digest = source_hash()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return True
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building (sbt package)")
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return False
    if r.returncode != 0 or not os.path.exists(JAR):
        log(f"build failed: sbt exited {r.returncode}")
        return False
    if os.path.exists(CDS):
        os.remove(CDS)
    log("self-test (also dumps the class-data-sharing archive)")
    if run_isolated(["--selftest"], f"-XX:ArchiveClassesAtExit={CDS}") is None:
        log("build failed: self-test failed")
        return False
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return True


def run_jvm(bench_args, work, cds_opt):
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    cp = JAR + os.pathsep + os.path.join(spark_home, "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        "-Dfile.encoding=UTF-8", "-XX:+UseParallelGC", "-Xmx3g",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", cds_opt,
        "-cp", cp, "perfbench.BenchMain", "--work", work] + bench_args)
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8", SPARK_GRAFT_CPUS="4")
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S}s; stopping it")
        proc.kill()
        proc.wait()
        return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")
    if not build():
        return 1
    args = (["--selftest"] if a.selftest else
            ["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace)])
    result = run_isolated(args, f"-XX:SharedArchiveFile={CDS}")
    if result is None:
        return 1
    print(json.dumps(result))
    return 0 if result.get("correct", result.get("ok")) else 1


def run_isolated(args, cds_opt):
    """One benchmark JVM in a fresh work directory, removed afterwards.
    Returns its result, or None when it failed to produce one."""
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run_jvm(args, work, cds_opt)
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            log(f"benchmark JVM exited {rc} without a result")
            return None
        with open(result_path) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if "ok" in result and not result["ok"]:
        log("self-test failed: " + json.dumps(result))
        return None
    return result


if __name__ == "__main__":
    sys.exit(main())
