#!/usr/bin/env python3
"""graft benchmark: one command for every workload and metric.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source on first use (perfbench/build.py), then runs one benchmark JVM:
stage the seeded inputs, warm up, time the workload, check every output.
The last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}} with the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
Everything the run writes stays under `.bench_build/` and `.bench_work/`; the
JVM's stderr (with per-phase timings) is kept in `.bench_work/logs/`.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_slow_api", "ingest_resume")
TIMEOUT_S = 175
# Spark 4 on JDK 17 needs these outside spark-submit (the repo build's list).
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
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    classpath = build.build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    trace_out = os.path.abspath(os.path.join(
        ".bench_work", "traces", f"{a.workload}-{a.seed}-{os.getpid()}.json"))
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(".bench_work", "logs", f"{a.workload}-{a.seed}-{os.getpid()}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--t0-ms", str(int(time.time() * 1000)),
              "--cpus", str(cpus), "--trace-out", trace_out])
    result = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print(f"benchmark timed out after {TIMEOUT_S} s", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = line[len("PERFBENCH_RESULT "):]
    if proc.returncode != 0 or result is None:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        sys.exit(proc.returncode or 1)
    print(result)


if __name__ == "__main__":
    main()
