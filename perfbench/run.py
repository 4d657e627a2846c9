#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics line.

    python3 perfbench/run.py --workload cdc_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
driver (perfbench/build.sh); every run then starts one JVM that drives
the workload as a closed loop. The JVM's scratch data (input landing
zone, state, histories, Spark's local and warehouse directories) lives
under perfbench/.work and is removed when the run ends; the run's log
and, with --trace 1, its spans are kept under perfbench/.out.

The last line of standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cdc_sync", "five_family_intake")
DEFAULT_SEED = 1
HELD_OUT_SEED = 20261017
RUN_TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars") if home else None


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED,
                   help=f"input seed (default {DEFAULT_SEED}; {HELD_OUT_SEED} is "
                        "held out for verifying a claimed gain)")
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    build = subprocess.run(["bash", os.path.join(HERE, "build.sh")],
                           stdout=sys.stderr)
    if build.returncode != 0:
        print("perfbench: build failed", file=sys.stderr)
        return build.returncode or 2
    jars = spark_jars()
    if not jars:
        print("perfbench: set SPARK_HOME", file=sys.stderr)
        return 2

    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    outdir = os.path.join(HERE, ".out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(outdir, exist_ok=True)
    # a fixed heap, so the peak resident set does not hinge on when G1
    # grows it; no perf-data file, so the JVM writes nothing outside work/
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([os.path.join(HERE, ".build", "classes"),
                                os.path.join(jars, "*")]),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
    ]
    log_path = os.path.join(outdir, f"{name}.log")
    try:
        with open(log_path, "w") as log:
            run = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                                 stderr=log, text=True, timeout=RUN_TIMEOUT_S,
                                 env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(outdir, f"spans-{name}.jsonl"))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s (log: {log_path})",
              file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in run.stdout.splitlines() if l.strip()]
    if run.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        print(f"perfbench: run failed with code {run.returncode}", file=sys.stderr)
        return run.returncode or 4
    result = json.loads(lines[-1])
    for l in lines:
        print(l)
    return 0 if {"correct", "attempted", "failed", "metrics"} <= result.keys() else 5


if __name__ == "__main__":
    sys.exit(main())
