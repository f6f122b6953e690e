#!/usr/bin/env python3
"""Benchmark of the graft library: one workload, one seed, one run.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 20 --trace 0

Builds the library and the harness from source on first use (see build.py),
runs the harness JVM from the repository root, and prints a short report
followed by one JSON result line: end-to-end metrics with --trace 0,
per-layer metrics from the traced run with --trace 1. Inputs are generated
from --seed; outputs are checked, and failed checks count in `failed`.
Everything it writes stays under .bench_build/ in the repository root.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("er_batch", "er_serve", "corpus_dedup")
# a run must finish within 180 s; leave room for start-up and teardown
DEADLINE_S = 170

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
    "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false",
    "-Duser.timezone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def units_by_name(trace):
    rows = report.per_layer_catalogue() if trace else report.END_TO_END
    return {name: unit for name, unit, _ in rows}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the benchmark's own tests")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one expected output per workload (checks must fail)")
    args = ap.parse_args(argv)

    started = time.time()
    try:
        classes = build.ensure(ROOT)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2

    name = "%s-%d-t%d-%d" % (args.workload, args.seed, args.trace, os.getpid())
    bench_dir = os.path.join(ROOT, build.BUILD_DIR)
    work = os.path.join(bench_dir, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log_path = os.path.join(bench_dir, "logs", name + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
           "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scale", args.scale, "--work", work, "--out", out,
           "--t0-ms", str(int(time.time() * 1000))]
           + (["--inject-fault"] if args.inject_fault else []))
    budget = max(30.0, DEADLINE_S - (time.time() - started))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        print("harness %s (see %s):\n%s" % (
            "timed out" if rc is None else "exited with %s" % rc, log_path, tail),
            file=sys.stderr)
        return 3

    raw = report.load(out)
    if args.trace:
        report.write_spans(raw, os.path.join(bench_dir, "traces", name + ".jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    summary = report.summarise(raw, units_by_name(args.trace))
    for line in report.human(raw, summary):
        print(line)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
