#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 perfbench/selftest.py

1. A connector input with one RECORD dropped must be reported as failed
   operations (nonzero exit, "correct": false).
2. A delta file with one duplicated row must be reported the same way.
3. A smoke run at sf0.001 runs all four workloads, untraced and traced, and
   each prints exactly the metric names BENCHMARK.json lists.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Every workload run.py knows, including incremental_resume, which is not in
# BENCHMARK.json (see NOTES.md) but carries the duplicated-delta test.
WORKLOADS = ("connector_singer", "file_parquet", "incremental_resume", "query_mix")


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def expect(cond, what, failures):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = []
    short = ["--seconds", "1"]

    for workload, inject in (("connector_singer", "drop-record"), ("incremental_resume", "dup-delta")):
        rc, res, err = bench("--workload", workload, "--seed", "7", "--inject", inject, "--sf", "sf0.001", *short)
        expect(rc != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{workload} with {inject} is reported as failed (rc={rc}, result={res and {k: res[k] for k in ('correct', 'attempted', 'failed')}})",
               failures)

    names = {0: [m["name"] for m in spec["end_to_end"]], 1: [m["name"] for m in spec["per_layer"]]}
    for w in WORKLOADS:
        for trace in (0, 1):
            rc, res, err = bench("--workload", w, "--seed", "7", "--trace", str(trace),
                                 "--sf", "sf0.001", *short)
            got = sorted(res["metrics"]) if res else None
            expect(rc == 0 and res["correct"] and got == sorted(names[trace]),
                   f"smoke {w} trace={trace} prints every metric (rc={rc}, "
                   f"missing={res and sorted(set(names[trace]) - set(got))}, "
                   f"extra={res and sorted(set(got) - set(names[trace]))})", failures)
            if rc != 0:
                sys.stderr.write(err[-3000:])

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
