#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

Usage (from the checkout root):
    python3 perfbench/run.py --workload elb_etl --seed 1 --seconds 10 --trace 0

Workloads: elb_etl, catalog_iterative (see perfbench/README.md).
The first run in a checkout compiles the program (perfbench/build.py). The
last stdout line is one JSON object with `correct`, `attempted`, `failed`
and `metrics`; with --trace 1 the metrics are the per-layer ones and the
spans go to .bench_build/traces/<workload>-seed<n>.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("elb_etl", "catalog_iterative")
JVM_TIMEOUT_S = 170


def _stop(signum, _frame):
    # unwinds through the finally blocks, which kill the compiler or JVM
    raise SystemExit(128 + signum)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = build.java_command(classpath, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace),
        "--data", os.path.join(build.BENCH, "data", "sf0.01"),
        "--expected", os.path.join(build.BENCH, "expected", "catalog_digests.json"),
        "--work", work, "--spans", spans]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        # also reached on SIGTERM (see _stop) and on a timeout
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        result = None
    if proc.returncode != 0 or result is None:
        print("\n".join(lines), file=sys.stderr)
        print(f"perfbench: benchmark JVM exited {proc.returncode} without a result",
              file=sys.stderr)
        return proc.returncode or 4
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
