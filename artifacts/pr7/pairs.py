#!/usr/bin/env python3
"""Alternating untraced perfbench pairs, parent against change.

    python3 artifacts/pr7/pairs.py <workload> <seed> <pairs> <out.jsonl> \
        <parent checkout> <change checkout>

Runs `python3 perfbench/run.py --workload <w> --seed <n> --seconds 5
--trace 0` in each checkout, the first side alternating pair by pair, and
appends each run's result line to <out.jsonl> with its side, pair number
and the 1-minute load average. Summarize with
`python3 artifacts/pr4/summarize_pairs.py <out.jsonl>`.
"""
import json
import subprocess
import sys

workload, seed, pairs, out, parent, change = sys.argv[1:7]
sides = [("parent", parent), ("change", change)]
for run in range(1, int(pairs) + 1):
    order = sides if run % 2 else sides[::-1]
    for side, root in order:
        res = subprocess.run(
            ["python3", "perfbench/run.py", "--workload", workload,
             "--seed", seed, "--seconds", "5", "--trace", "0"],
            cwd=root, capture_output=True, text=True)
        lines = [l for l in res.stdout.splitlines() if l.startswith("{")]
        rec = json.loads(lines[-1]) if lines else {"failed": 1}
        rec.update(side=side, run=run,
                   load_1m=float(open("/proc/loadavg").read().split()[0]))
        with open(out, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(side, run, json.dumps(rec.get("metrics", rec)), flush=True)
