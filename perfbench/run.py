#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <analytics|sensor_ingest|store_mixed>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (build.py),
runs the workload in one JVM with every work directory under
.bench_build/, checks the outputs, and prints one JSON object as the last
line of stdout. Exits non-zero, without a result, if the engine sources or
the Spark distribution are missing, or if an output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = build.HERE
WORKLOADS = ("analytics", "sensor_ingest", "store_mixed")
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--calibrate", help="write per-query timings and fingerprints here")
    a = p.parse_args()

    classes = build.build()
    cpus = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(build.BUILD, "work", tag)
    results = os.path.join(build.BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_PROBE_"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-Xss4m", "-XX:-UsePerfData",
           *[x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")],
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
           "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cpus", str(cpus),
           "--data", os.path.join(HERE, "data", "sf0.01"),
           "--fingerprints", os.path.join(HERE, "fingerprints.json"),
           "--queries", os.path.join(HERE, "analytics_queries.txt"),
           "--work", work, "--out", out]
    if a.calibrate:
        cmd += ["--calibrate", os.path.abspath(a.calibrate)]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=None if a.calibrate else TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"run: {a.workload} exceeded {TIMEOUT_S} s", file=sys.stderr)
        rc = 124
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.calibrate:
        return rc
    if not os.path.exists(out):
        print(f"run: {a.workload} produced no result (exit {rc})", file=sys.stderr)
        return rc or 1
    with open(out) as fh:
        result = json.load(fh)
    print(json.dumps(result))
    return rc


if __name__ == "__main__":
    sys.exit(main())
