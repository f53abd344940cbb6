"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload billing_daily --seed 1 \
        --seconds 10 --trace 0

Builds the engine and the benchmark from source (see build.py), starts
one JVM that runs Spark at local[<cpus>], and relays the JVM's one-line
JSON result. Everything the run writes stays under perfbench/: the
compiled classes in .build, scratch tables and Spark's local dirs in
.work (emptied before and after each run), and span dumps of traced
runs in traces/. See README.md for the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ("billing_daily", "billing_charge_storm", "usage_log_lifecycle",
             "llm_pipeline")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be positive")

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    bench = build.BENCH_DIR
    work = os.path.join(bench, ".work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_file = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(bench, "log4j2.properties")] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus()), "--work", work,
            "--traces", os.path.join(bench, "traces"),
            "--result", result_file])
    # the JVM's own stdout (Spark, report lines) goes to stderr so the
    # result is the last line of this process's stdout
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=build.ROOT, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run did not finish in time", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 3
    result = None
    if code == 0 and os.path.isfile(result_file):
        with open(result_file) as f:
            result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
