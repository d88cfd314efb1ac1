#!/usr/bin/env python3
"""Runs the benchmark once per seed and reports each end-to-end metric's
median, quartiles and spread (interquartile range as a share of the
median) against the bound in BENCHMARK.json.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10] [--out file.json]

Run from the repository root. Every run's result and wall time are kept in
the output file, which perfbench/baseline.json is made from.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", default="0")
    p.add_argument("--out", default=os.path.join(HERE, ".work", "spread.json"))
    a = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    doc = {"run_seconds": spec["run_seconds"], "runs": {}}
    total = 0.0
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                   "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                   "--trace", a.trace], cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            total += wall
            res = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.stdout.strip() else None
            runs.append({"seed": s, "rc": proc.returncode, "wall_s": round(wall, 1), "result": res})
            print(f"{w} seed {s}: rc={proc.returncode} wall={wall:.1f}s", file=sys.stderr, flush=True)
        doc["runs"][w] = runs
        if a.trace != "0":
            continue
        print(f"\n{w}  (runs {len(runs)}, wall median {statistics.median(r['wall_s'] for r in runs):.1f} s)")
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs if r["result"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < bounds[m["name"]] / 3 else ("  > bound/3" if spread < bounds[m["name"]] else "  > BOUND")
            print(f"  {m['name']:16s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:6.3f}  bound {bounds[m['name']]}{flag}")
    doc["total_wall_s"] = round(total, 1)
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"\ntotal wall {total:.0f} s; runs in {a.out}")


if __name__ == "__main__":
    main()
