#!/usr/bin/env python3
"""Run one workload of the reference-RAG benchmark and print its result.

    python3 ragbench/run.py --workload chat --seed 1 --seconds 8 --trace 0
    python3 ragbench/run.py --plan-test

Builds the library and the benchmark from source on first use (build.py),
then runs the benchmark in one JVM at local[<cores>]. Every input,
collection and span file lives under a temp root in .bench_tmp/, deleted on
exit. The last stdout line is the JSON result; the human-readable tables go
to stderr. See ragbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import build

WORKLOADS = ("ingest", "chat", "batch", "reupload")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(main, args, tmp):
    classes = build.build()
    cores = len(os.sched_getaffinity(0))
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    cmd = [build.java(), "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp / 'tmp'}",
           f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main, "--root", str(tmp), "--cores", str(cores)] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    (tmp / "tmp").mkdir(parents=True)
    try:
        return subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=env,
                              timeout=JVM_TIMEOUT_S, cwd=tmp)
    except subprocess.TimeoutExpired:  # run() has killed and reaped the JVM
        sys.exit(f"ragbench: {main} did not finish in {JVM_TIMEOUT_S} s")


def main():
    # a terminated run still stops its JVM and deletes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--plan-test", action="store_true",
                    help="check that no timed action drops an output column, then exit")
    a = ap.parse_args()
    if not a.plan_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    tmp = build.ROOT / ".bench_tmp" / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        if a.plan_test:
            r = jvm("graftbench.PlanCheck", [], tmp)
            sys.stdout.write(r.stdout)
            return r.returncode
        r = jvm("graftbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", a.trace], tmp)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stdout)
            return r.returncode or 1
        json.loads(lines[-1])
        print(lines[-1])
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            (build.ROOT / ".bench_tmp").rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
