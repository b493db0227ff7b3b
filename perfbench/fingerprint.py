#!/usr/bin/env python3
"""Compare the count fingerprints of two traced runs.

    python3 perfbench/fingerprint.py A.counts.jsonl B.counts.jsonl

A traced run writes one JSON line per layer call (workload, verb, call
index, jobs, stages, tasks, and files_added or rounds where the verb has
them) to .bench_build/perfbench/out/<workload>-seed<n>-trace1.counts.jsonl.
Two traced runs of one seed should agree exactly on every call both made
(a time-bounded run may make more calls than the other). Prints each
(verb, field) that differs and exits 1 if any does.
"""
import json
import sys

FIELDS = ("jobs", "stages", "tasks", "files_added", "rounds")


def load(path):
    with open(path) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    return {(r["workload"], r["verb"], r["call"]): r for r in rows}


def compare(a, b):
    """Per (verb, field): (calls compared, calls that differ)."""
    out = {}
    for key in sorted(set(a) & set(b)):
        for f in FIELDS:
            if f in a[key] or f in b[key]:
                n, bad = out.get((key[1], f), (0, 0))
                out[(key[1], f)] = (n + 1,
                                    bad + (a[key].get(f) != b[key].get(f)))
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    result = compare(load(sys.argv[1]), load(sys.argv[2]))
    differs = {k: v for k, v in result.items() if v[1]}
    for (verb, f), (n, bad) in sorted(result.items()):
        mark = "DIFFERS" if bad else "same"
        print(f"{verb:34s} {f:12s} {n:4d} calls  {mark}"
              + (f" ({bad} of {n})" if bad else ""))
    sys.exit(1 if differs else 0)


if __name__ == "__main__":
    main()
