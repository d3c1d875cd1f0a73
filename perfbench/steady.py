#!/usr/bin/env python3
"""Run-to-run steadiness of the benchmark.

Runs `perfbench/run.py` N times per workload, each with another seed, and
prints per end-to-end metric the median, first and third quartile
(`statistics.quantiles(values, n=4)`) and the spread (Q3 - Q1) / median
against the metric's bound from BENCHMARK.json. With two seed ranges it
also compares the medians of two separate sets of runs:

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--first-seed 1]
    python3 perfbench/steady.py --runs 10 --compare 101

A spread at or above a third of its bound is flagged `WIDE`, one above
the bound `FAIL`; setup_s is exempt from the spread check but not from the
median comparison. Raw results go to .bench_build/steady/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["run_s"] = time.time() - t0
    return res


def collect(bench, workloads, seeds, out):
    got = {}
    for w in workloads:
        rows = []
        for s in seeds:
            r = run_once(w, s, bench["run_seconds"])
            rows.append(r)
            print(f"  {w} seed={s} run_s={r['run_s']:.1f} correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']}", flush=True)
        got[w] = rows
        with open(os.path.join(out, f"{w}-{seeds[0]}-{seeds[-1]}.json"), "w") as f:
            json.dump(rows, f)
    return got


def summarize(bench, got):
    bad = 0
    for w, rows in got.items():
        print(f"== {w} ({len(rows)} runs, mean run {statistics.mean(r['run_s'] for r in rows):.1f} s)")
        for m in bench["end_to_end"]:
            vs = [r["metrics"][m["name"]]["value"] for r in rows]
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = ""
            if m["name"] != "setup_s":
                flag = "FAIL" if spread > m["bound"] else "WIDE" if spread >= m["bound"] / 3 else ""
                bad += flag == "FAIL"
            print(f"  {m['name']:<22}{med:14.4f} {m['unit']:<6} q1={q1:<12.4f} q3={q3:<12.4f}"
                  f"spread={spread:7.2%}  bound={m['bound']:.0%} {flag}")
    return bad


def compare(bench, a, b):
    bad = 0
    print("== second set vs first set (median change; positive = worse)")
    for w in a:
        for m in bench["end_to_end"]:
            ma = statistics.median(r["metrics"][m["name"]]["value"] for r in a[w])
            mb = statistics.median(r["metrics"][m["name"]]["value"] for r in b[w])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            flag = "FAIL" if worse > m["bound"] else ""
            bad += flag == "FAIL"
            print(f"  {w:<18}{m['name']:<22}{ma:12.4f} -> {mb:12.4f}  {worse:+7.2%} {flag}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--compare", type=int, default=None,
                    help="first seed of a second set of runs to compare medians with")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    out = os.path.join(".bench_build", "steady")
    os.makedirs(out, exist_ok=True)
    first = collect(bench, workloads, list(range(a.first_seed, a.first_seed + a.runs)), out)
    bad = summarize(bench, first)
    if a.compare is not None:
        second = collect(bench, workloads, list(range(a.compare, a.compare + a.runs)), out)
        bad += summarize(bench, second) + compare(bench, first, second)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
