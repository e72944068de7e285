#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage:
  python3 perfbench/run.py --workload <gen_parquet|task_api|curate>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the program first when needed (see build.py), then runs
perfbench/src/Main.scala in its own JVM with Spark local[4], in a fresh
work directory under .bench_build/runs. Exits non-zero without a result when
the build or the run fails, and with code 1 after the result when an output
check failed.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("gen_parquet", "task_api", "curate")
RESULT_PREFIX = "PERFBENCH_RESULT "
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the list the repo's
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    rc = build.build()
    if rc != 0:
        print(f"perfbench: build failed ({rc})", file=sys.stderr)
        return 2

    here = os.path.dirname(os.path.abspath(__file__))
    runs = os.path.join(build.BUILD, "runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", build.classpath(), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", args.trace, "--work", work,
    ]
    # the JVM's working directory is the run's work dir, so relative paths the
    # program writes (its default output dir) stay inside it
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True, start_new_session=True)
    result = None
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {args.workload} did not finish within {TIMEOUT_S} s", file=sys.stderr)
        return 3
    for line in out.splitlines():
        if line.startswith(RESULT_PREFIX):
            result = line[len(RESULT_PREFIX):]
        else:
            print(line)
    if args.trace == "1" and os.path.exists(os.path.join(work, "trace.json")):
        traces = os.path.join(build.BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(traces, f"{args.workload}-{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    if result is None or proc.returncode not in (0, 1):
        print(f"perfbench: {args.workload} failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(result, flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
