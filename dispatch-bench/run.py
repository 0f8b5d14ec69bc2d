#!/usr/bin/env python3
"""Dispatch-core benchmark: one workload, one seed, one JSON result.

    python3 dispatch-bench/run.py --workload replay-proto-8 --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark (see build.py), runs them in one JVM
with a GraftSession.local session on every core, checks every output record
against the benchmark's own oracle, and prints one JSON object as the last
line of stdout. --trace 1 prints the per-layer metrics instead of the
end-to-end ones and leaves spans.jsonl and plan.txt under
.work/trace/<workload>/. --selftest checks the generator and the checker;
--repro runs one DLQ record through the engine and prints both outputs.
"""
import argparse
import json
import os
import subprocess
import sys

import build

BENCH = build.BENCH
ROOT = build.ROOT
JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm_command(classes, work, args):
    """Every path is relative to the repository root, where the JVM runs:
    temp files, Spark's local dirs and the stream checkpoint stay inside the
    checkout and short wherever the checkout sits."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = {
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    return (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")]),
             "dispatchbench.Main", "--work", work] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5, help="measured seconds; BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--repro", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.repro):
        ap.error("--workload is required")

    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[bench] build failed: {e}", file=sys.stderr)
        return 2

    work = build.rel(os.path.join(BENCH, ".work"))
    for d in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(ROOT, work, d), exist_ok=True)
    if a.selftest:
        args = ["--selftest"]
    elif a.repro:
        args = ["--repro"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
    try:
        r = subprocess.run(jvm_command(classes, work, args), cwd=ROOT, stdout=subprocess.PIPE,
                           timeout=JVM_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        print(f"[bench] the run did not finish within {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    lines = r.stdout.splitlines()
    result = None
    for line in reversed(lines):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            result = line
            break
    for line in lines:
        if line is not result:
            print(line, file=sys.stderr)
    if r.returncode != 0:
        print(f"[bench] the JVM exited with {r.returncode}", file=sys.stderr)
        return r.returncode
    if result is not None:
        print(result)
    elif not (a.selftest or a.repro):
        print("[bench] the JVM printed no result", file=sys.stderr)
        return 4
    return 0


if __name__ == "__main__":
    sys.exit(main())
