#!/usr/bin/env python3
"""Pins the query_mix expectations in perfbench/expected/query_mix.json.

    python3 perfbench/pin.py [--sf sf0.01] [--rounds 3]

Runs every query of the set (graft.Bench's headline set less LEFT_OUT)
`rounds` times, each round in a fresh Spark
session, and records its row count and digest. A query whose digest differs
between rounds is pinned by row count only. Each result is also compared
with DuckDB running the query's oracle SQL (`SparkEntry.oracleSql`) on the
same tables, by the rule of tools/oracle_check.py: same columns, same row
count, same values in order. A query that fails that comparison, or returns
different row counts between rounds, is an error and nothing is written.
"""

import argparse
import glob
import json
import os
import sys

import duckdb

import run

# The headline set of graft.Bench, less the queries in LEFT_OUT.
HEADLINE = ["q1_agg", "q_star_join", "q_topk", "q_window", "q_asof_join", "q_incremental",
            "q_flatten", "q_dedup_exact", "q_dedup_minhash", "q_dedup_embedding", "q_ann_ivf",
            "q_bm25", "q_pagerank", "q_langid", "q_pack_sequences", "q_stream_sync",
            "q_vocab_growth", "q_weighted_quantile"]
FIXTURES = "builds a shared fixture under a fixed directory outside the working tree"
BUDGET = ("one of the six slowest (about 17 of the 26 s of a warm pass at sf0.01); "
          "left out so that every run of every workload fits the benchmark's time budget")
LEFT_OUT = {"q_stream_sync": FIXTURES, "q_pagerank": BUDGET, "q_vocab_growth": BUDGET,
            "q_weighted_quantile": BUDGET, "q_ann_ivf": BUDGET, "q_dedup_embedding": BUDGET,
            "q_dedup_minhash": BUDGET}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def oracle_matches(con, out, name, sql):
    files = glob.glob(os.path.join(out, name, "*.parquet"))
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    want = con.execute(sql).fetchdf()
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    g, w = got[sorted(got.columns)], want[sorted(want.columns)]
    for c in g.columns:
        for a, b in zip(g[c], w[c]):
            if a != b and str(a) != str(b) and not (
                    isinstance(a, float) and isinstance(b, float) and abs(a - b) < 1e-12):
                return False
    return True


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--sf", default="sf0.01")
    p.add_argument("--rounds", type=int, default=3)
    a = p.parse_args()
    queries = [q for q in HEADLINE if q not in LEFT_OUT]
    java = run.build()
    out = os.path.join(run.WORK, "pin", a.sf)
    sf_dir = os.path.join(run.HERE, "data", a.sf)
    rc = run.run_jvm(java + ["perfbench.Pin", "--work", os.path.join(run.WORK, "run"), "--out", out,
                             "--sf-dir", sf_dir, "--queries", ",".join(queries),
                             "--rounds", str(a.rounds), "--cores", str(run.cores())])
    if rc != 0:
        sys.exit(f"pin run failed ({rc})")
    runs = json.load(open(os.path.join(out, "pin_runs.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    pinned, problems = {}, []
    for q in queries:
        r = runs[q]["runs"]
        rows = {x["rows"] for x in r}
        digests = {x["digest"] for x in r}
        if len(rows) != 1:
            problems.append(f"{q}: row counts differ between rounds {sorted(rows)}")
            continue
        sql = runs[q]["oracle"]
        oracle = "none" if sql is None else ("match" if oracle_matches(con, out, q, sql) else "MISMATCH")
        if oracle == "MISMATCH":
            problems.append(f"{q}: result differs from the DuckDB oracle")
        pinned[q] = {"rows": rows.pop(), "digest": digests.pop() if len(digests) == 1 else None,
                     "oracle": oracle}
        print(f"{q}: {pinned[q]}")
    if problems:
        sys.exit("not pinned:\n" + "\n".join(problems))
    doc = json.load(open(run.PINS)) if os.path.exists(run.PINS) else {}
    doc[a.sf] = {"queries": pinned,
                 "rows_only": sorted(q for q, v in pinned.items() if v["digest"] is None),
                 "left_out": LEFT_OUT}
    os.makedirs(os.path.dirname(run.PINS), exist_ok=True)
    with open(run.PINS, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
