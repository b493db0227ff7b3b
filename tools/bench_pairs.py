#!/usr/bin/env python3
r"""Alternating untraced perfbench pairs, parent against change, and their
summary against the bounds in BENCHMARK.json.

Run pairs (appends one JSON line per run to <out.jsonl>):

    python3 tools/bench_pairs.py run <workload> <seed> <pairs> <out.jsonl> \
        <parent checkout> <change checkout>

Each pair runs `python3 perfbench/run.py --workload <w> --seed <n>
--seconds <run_seconds> --trace 0` once in each checkout; the side that
runs first alternates pair by pair. Each record carries its side, pair
number and the 1-minute load average.

Summarize one or more pair files:

    python3 tools/bench_pairs.py summary <out.jsonl>...

For each file and each end-to-end metric of BENCHMARK.json it prints the
parent's and the change's median and quartiles, the pairs the change won
(ties apart), whether the medians differ by more than the parent's
interquartile range in the change's favour (the parent-IQR rule), and
whether the change stays within the metric's bound (its relative move in
the worse direction is at most the bound).
"""
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def load_1m():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return None


def run(workload, seed, pairs, out, parent, change):
    seconds = str(benchmark().get("run_seconds", 5))
    sides = [("parent", parent), ("change", change)]
    for n in range(1, int(pairs) + 1):
        for side, root in (sides if n % 2 else sides[::-1]):
            res = subprocess.run(
                ["python3", "perfbench/run.py", "--workload", workload,
                 "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                cwd=root, capture_output=True, text=True)
            lines = [l for l in res.stdout.splitlines() if l.startswith("{")]
            rec = json.loads(lines[-1]) if lines else {"failed": 1}
            rec.update(side=side, run=n, load_1m=load_1m())
            with open(out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(side, n, json.dumps(rec.get("metrics", rec)), flush=True)


def quantile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p
    f = int(k)
    c = min(f + 1, len(xs) - 1)
    return xs[f] + (xs[c] - xs[f]) * (k - f)


def summary(paths):
    metrics = benchmark()["end_to_end"]
    for path in paths:
        with open(path) as fh:
            recs = [json.loads(l) for l in fh if l.strip()]
        by = {}
        for r in recs:
            by.setdefault(r["side"], {})[r["run"]] = r
        both = sorted(set(by.get("parent", {})) & set(by.get("change", {})))
        print(f"{os.path.basename(path)}: {len(both)} pairs; failed "
              + str({s: sum(r.get("failed", 1) for r in v.values())
                     for s, v in by.items()})
              + "; all correct "
              + str({s: all(r.get("correct") for r in v.values())
                     for s, v in by.items()}))
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            try:
                pv = [by["parent"][i]["metrics"][name]["value"] for i in both]
                cv = [by["change"][i]["metrics"][name]["value"] for i in both]
            except KeyError:
                print(f"  {name:18s} missing in some run")
                continue
            if not pv:
                continue
            pm, cm = statistics.median(pv), statistics.median(cv)
            p1, p3 = quantile(pv, .25), quantile(pv, .75)
            rel = (cm - pm) / pm if pm else 0.0
            wins = sum(1 for a, b in zip(pv, cv)
                       if a != b and (b < a) == lower)
            ties = sum(1 for a, b in zip(pv, cv) if a == b)
            gain = (pm - cm) if lower else (cm - pm)
            iqr_rule = gain > (p3 - p1)
            worse = rel if lower else -rel
            print(f"  {name:18s} parent {pm:9.2f} [{p1:9.2f} {p3:9.2f}]"
                  f"  change {cm:9.2f} [{quantile(cv, .25):9.2f}"
                  f" {quantile(cv, .75):9.2f}]  rel {rel:+.3f}"
                  f"  wins {wins}/{len(pv)} ties {ties}"
                  f"  gain>parent IQR: {iqr_rule}"
                  f"  within bound {m['bound']}: {worse <= m['bound']}")


def main(argv):
    if len(argv) >= 7 and argv[0] == "run":
        run(*argv[1:7])
    elif len(argv) >= 2 and argv[0] == "summary":
        summary(argv[1:])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
