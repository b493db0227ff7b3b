#!/usr/bin/env python3
"""Run workloads over several seeds and summarize each metric's spread.

    python3 perfbench/spread.py --workloads rag_query ingest_churn \
        --seeds 1 2 3 4 5 --trace 0 --out runs.json

Runs perfbench/run.py once per (workload, seed), sequentially, from the
root of the checkout. For every metric it reports the median, the first
and third quartiles (statistics.quantiles, n=4) and the spread: the
inter-quartile distance as a share of the median. With --bench, each
end-to-end metric's spread is set against its bound from BENCHMARK.json.
Every run's result line is kept in --out.
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


def summarize(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    spread = (q3 - q1) / med if med else float("nan")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread,
            "n": len(values)}


def run_one(workload, seed, seconds, trace):
    """One run of perfbench/run.py; returns (result object, wall seconds),
    or (None, wall) if the run failed."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        print(f"{workload} seed {seed}: exit {p.returncode}", file=sys.stderr)
        return None, wall
    res = json.loads(p.stdout.strip().splitlines()[-1])
    print(f"{workload} seed {seed} trace {trace}: {wall:.0f} s, "
          f"correct={res['correct']}", file=sys.stderr)
    return res, wall


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def spreads(workloads, seeds, seconds, trace):
    """Run every (workload, seed); return (runs, per-workload summary)."""
    runs = []
    for w in workloads:
        for seed in seeds:
            res, wall = run_one(w, seed, seconds, trace)
            if res is not None:
                runs.append({"workload": w, "seed": seed, "wall_s": wall,
                             "result": res})
    summary = {}
    for w in workloads:
        rs = [r for r in runs if r["workload"] == w]
        if not rs:
            continue
        names = sorted(rs[0]["result"]["metrics"])
        summary[w] = {
            "runs": len(rs),
            "all_correct": all(r["result"]["correct"] for r in rs),
            "wall_s": summarize([r["wall_s"] for r in rs]),
            "metrics": {n: summarize([r["result"]["metrics"][n]["value"]
                                      for r in rs]) for n in names}}
    return runs, summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    b = bench()
    seconds = a.seconds or b["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    runs, summary = spreads(a.workloads, a.seeds, seconds, a.trace)
    for w, sw in summary.items():
        for n, s in sw["metrics"].items():
            bd = bounds.get(n)
            flag = ""
            if bd is not None and a.trace == "0":
                flag = "ok" if s["spread"] <= bd / 3 else (
                    "within bound" if s["spread"] <= bd else "OVER BOUND")
            print(f"{w:14s} {n:34s} median {s['median']:14.4f} "
                  f"spread {s['spread']:7.4f} {flag}")
    with open(a.out, "w") as fh:
        json.dump({"seconds": seconds, "trace": a.trace, "runs": runs,
                   "summary": summary}, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
