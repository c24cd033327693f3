#!/usr/bin/env python3
"""Self-test of the benchmark's own checks.

    python3 perfbench/selftest.py

Run from the root of a checkout. Two properties are tested:

1. Each workload, run with one expected answer deliberately corrupted
   (--wrong-expected 1), reports failed > 0 and "correct": false.
2. A directory holding only BENCHMARK.json and perfbench/ (no engine
   sources) makes run.py exit non-zero without printing a result.

A normal run of each workload (failed == 0) is the benchmark itself.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
WORKLOADS = ("raster-etl", "curation-build")


def run(cwd, *extra):
    return subprocess.run(
        ["python3", "perfbench/run.py", "--seed", "7", "--seconds", "1",
         "--trace", "0", *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=900)


def main():
    ok = True
    for w in WORKLOADS:
        out = run(ROOT, "--workload", w, "--wrong-expected", "1")
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if out.returncode == 0 and lines else None
        passed = res is not None and res["failed"] > 0 and not res["correct"]
        print(f"{w}: wrong expected answer -> "
              f"{'failed=%d' % res['failed'] if res else 'no result'} "
              f"{'PASS' if passed else 'FAIL'}")
        ok &= passed

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target"))
    out = run(bare, "--workload", WORKLOADS[0])
    shutil.rmtree(bare, ignore_errors=True)
    passed = out.returncode != 0 and not out.stdout.strip()
    print(f"bare directory: exit {out.returncode} {'PASS' if passed else 'FAIL'}")
    ok &= passed
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
