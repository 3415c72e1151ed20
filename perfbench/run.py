#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source when needed (build.py), runs
one workload in a fresh JVM, and relays its output. The last line of standard
output is the result object; the exit code is non-zero when the build fails,
an operation fails or an output check does not hold.
"""
import argparse
import os
import shutil
import subprocess
import sys

import build

WORKLOADS = ("live_feed", "backfill", "dashboard", "analytics")
RUN_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="analytics only: rewrite expected_analytics.json")
    a = ap.parse_args()

    classes, tables = build.ensure()
    work = build.BUILD / "work" / f"{a.workload}-{os.getpid()}"
    traces = build.BUILD / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *build.java_opts(), *build.cds_opts(classes), "-Xmx3g",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", build.classpath(classes), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work), "--tables", str(tables),
           "--spans", str(traces / f"{a.workload}-seed{a.seed}.jsonl"),
           "--expected", str(build.HERE / "expected_analytics.json")]
    if a.record:
        cmd.append("--record")
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run: {a.workload} exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
