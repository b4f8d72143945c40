#!/usr/bin/env python3
"""Runs one benchmark workload from the root of a checkout:

    python3 perfbench/run.py --workload convert_10m|queries_cold \
        --seed N --seconds S --trace 0|1

Builds the program from source when needed (see build.py), then runs
`perfbench.Main` in one JVM on `local[min(4, cores)]`. Everything it
writes stays under `.bench_build/` and `.bench_work/` of the checkout:
Spark's local dir, the JVM temp dir, the generated inputs and outputs
(removed at the end) and the run's artifact
(`.bench_work/artifacts/<workload>-seed<N>-trace<T>.json`, kept). The
last line of stdout is the result object; the JVM's log goes to
`.bench_work/logs/`. Exits non-zero, without a result line, when the
program cannot be built or run.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

import build

ROOT = build.ROOT
BENCH = os.path.join(ROOT, "perfbench")
WORKLOADS = ("convert_10m", "queries_cold")
# Hard stop below the 180 s a run may take.
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    classes = build.build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    logs = os.path.join(ROOT, ".bench_work", "logs")
    artifact = os.path.join(ROOT, ".bench_work", "artifacts", tag + ".json")
    for d in (work, os.path.join(work, "tmp"), logs):
        os.makedirs(d, exist_ok=True)
    cmd = (["java"]
           + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-Xmx3g",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.local.dir=" + os.path.join(work, "spark"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-Dspark.ui.enabled=false",
              "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--fixtures", os.path.join(BENCH, "fixtures", "sf0.01"),
              "--expected", os.path.join(BENCH, "expected", "queries_sf0.01.tsv"),
              "--work", work, "--artifact", artifact])
    log_path = os.path.join(logs, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"perfbench: {tag} exceeded {TIMEOUT_S} s; log in {log_path}")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        sys.exit(f"perfbench: {tag} printed no result (exit {proc.returncode}); log in {log_path}")
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
