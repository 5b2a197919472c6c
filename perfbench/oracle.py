#!/usr/bin/env python3
"""Recompute every expected result of a run with DuckDB, from the
generated inputs and the seeded op log alone (no program output, no
stored copy of an earlier run).

Usage:
  python3 perfbench/oracle.py --workload analytics|retrieval --seed N

Generates the seed's inputs (as run.py does) and prints one JSON object:
for analytics, each registered query's expected rows (the program's own
oracle SQL, run by DuckDB on the base parquet) and, after each timed
cycle, the expected pruned agency window, time-travel read and table
head; for retrieval, each probe's exact answer per timed cycle (BM25
top-k, and the exact cosine top-100 that bounds the ANN answer).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def oracle_sql(classes, path):
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{classes}{os.pathsep}{run.spark_jars()}/*",
                    "graft.perfbench.OracleSql", path], check=True,
                   stdout=sys.stderr, stderr=sys.stderr)
    with open(path) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args(argv)
    base = os.path.join(run.WORK, "base")
    gen.write_base(base)
    out = os.path.join(run.WORK, "oracle", a.workload)
    plan = gen.generate(a.workload, out, a.seed, run.TIMED_CYCLES, base)
    expected = {"workload": a.workload, "seed": a.seed}
    if a.workload == "analytics":
        sql = oracle_sql(run.build(), os.path.join(out, "oracle_sql.json"))
        expected["queries"] = checks.expected_queries(plan, sql)
        expected["cycles"] = {c: checks.expected_snapshot(plan, c, c - 2)
                              for c in range(1, run.TIMED_CYCLES + 1)}
    else:
        corpus = checks.Corpus(plan)
        cycles = {}
        for c in range(1, run.TIMED_CYCLES + 1):
            ops = plan["cycles"][c]
            cycles[c] = {
                "bm25": [corpus.lexical(c, [terms], 10) for terms in ops["bm25"]],
                "ann_top100": [corpus.ann_top(c, q) for q in ops["ann"]],
            }
        expected["cycles"] = cycles
    print(json.dumps(expected, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
