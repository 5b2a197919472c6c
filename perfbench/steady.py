#!/usr/bin/env python3
"""Steadiness: two sets of runs of the same code, alternated run by run,
compared per workload and end-to-end metric against BENCHMARK.json.

Usage:
  python3 perfbench/steady.py [--runs 10]

Set A uses seeds 1..runs, set B seeds 101..100+runs; the runs of the two
sets interleave (A1 B1 A2 B2 ...), so drift of the machine lands on both.
For each workload and metric it prints each set's first quartile, median
and third quartile, the spread (quartile distance over the median), the
gap between the two medians (as a share of set A's median, positive when
B is worse), and whether the gap (either way) and both spreads are
narrower than the bound. Every workload of BENCHMARK.json runs at its
run_seconds. Exits 1 when any metric is outside its bound.
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


def one_run(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed ({r.returncode})")
    line = json.loads(r.stdout.strip().splitlines()[-1])
    line["wall_s"] = time.time() - t0
    return line


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"q1": q1, "median": med, "q3": q3, "spread": (q3 - q1) / med}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sets = ["A", "B"]
    runs = {w: {s: [] for s in sets} for w in workloads}
    for i in range(a.runs):
        for s in sets:
            seed = (1 if s == "A" else 101) + i
            for w in workloads:
                line = one_run(w, seed, seconds)
                runs[w][s].append(line)
                print(f"[steady] {w} set {s} seed {seed}: correct={line['correct']} "
                      f"wall={line['wall_s']:.0f}s", file=sys.stderr, flush=True)
    report = {}
    ok = True
    for w in workloads:
        report[w] = {}
        for name, m in metrics.items():
            per = {s: summary([r["metrics"][name]["value"] for r in runs[w][s]]) for s in sets}
            a_med, b_med = per["A"]["median"], per["B"]["median"]
            gap = (b_med - a_med) / a_med * (1 if m["better"] == "lower" else -1)
            row = {"sets": per, "gap": gap, "within_bound": abs(gap) < m["bound"] and all(
                per[s]["spread"] < m["bound"] for s in sets)}
            ok = ok and row["within_bound"]
            report[w][name] = row
        report[w]["all_correct"] = all(r["correct"] for s in sets for r in runs[w][s])
        ok = ok and report[w]["all_correct"]
        report[w]["failed_share"] = sorted({r["failed"] / r["attempted"]
                                            for s in sets for r in runs[w][s]})
        report[w]["mean_wall_s"] = statistics.mean(r["wall_s"] for s in sets for r in runs[w][s])
    print(f"{'workload':10} {'metric':24} {'bound':>6} " + " ".join(
        f"{s + ' q1':>10} {s + ' med':>10} {s + ' q3':>10} {s + ' sprd':>7}" for s in sets)
        + "   gap    ok")
    for w in workloads:
        for name, m in metrics.items():
            row = report[w][name]
            cells = " ".join(f"{row['sets'][s]['q1']:10.4g} {row['sets'][s]['median']:10.4g} "
                             f"{row['sets'][s]['q3']:10.4g} {row['sets'][s]['spread']:7.3f}"
                             for s in sets)
            print(f"{w:10} {name:24} {m['bound']:6.2f} {cells} {row['gap']:+6.3f}   "
                  f"{'yes' if row['within_bound'] else 'NO'}")
        print(f"{w:10} correct={report[w]['all_correct']} failed_share={report[w]['failed_share']} "
              f"mean_wall={report[w]['mean_wall_s']:.1f}s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
