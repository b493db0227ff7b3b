#!/usr/bin/env python3
"""Record the benchmark's baseline for the code in this checkout.

    python3 perfbench/baseline.py --seeds 1 2 3 4 5 6 7 8 9 10 \
        --traced-seed 1 --fresh-seed 9001 --out perfbench/baseline

From the root of a checkout, for every workload in BENCHMARK.json:
  1. untraced runs over --seeds: median, quartiles and spread of every
     end-to-end metric, each spread set against its bound;
  2. two traced runs of --traced-seed: the per-layer medians of the first,
     and whether their count fingerprints agree (fingerprint.py);
  3. the tracing overhead: the traced runs' latency against the untraced
     median latency;
  4. one untraced run of --fresh-seed, a seed not used while the
     benchmark was built, whose outputs must all check.
Writes BASELINE.json and each workload's first traced fingerprint into
--out. Records of the individual runs stay in .bench_build/perfbench/out/.
"""
import argparse
import json
import os
import shutil

import fingerprint
import spread

OUT = os.path.join(spread.ROOT, ".bench_build", "perfbench", "out")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--traced-seed", type=int, required=True)
    ap.add_argument("--fresh-seed", type=int, required=True)
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    b = spread.bench()
    seconds = b["run_seconds"]
    workloads = a.workloads or [w["name"] for w in b["workloads"]]
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    os.makedirs(a.out, exist_ok=True)

    _, untraced = spread.spreads(workloads, a.seeds, seconds, 0)
    report = {"run_seconds": seconds, "seeds": a.seeds,
              "traced_seed": a.traced_seed, "fresh_seed": a.fresh_seed,
              "workloads": {}}
    for w in workloads:
        u = untraced[w]
        for n, s in u["metrics"].items():
            s["bound"] = bounds[n]
            s["within_bound"] = s["spread"] <= bounds[n]
        traced = []
        for i in (1, 2):
            res, _ = spread.run_one(w, a.traced_seed, seconds, 1)
            counts = os.path.join(
                OUT, f"{w}-seed{a.traced_seed}-trace1.counts.jsonl")
            kept = os.path.join(a.out, f"{w}.counts.run{i}.jsonl")
            shutil.copyfile(counts, kept)
            traced.append((res, kept))
        fp = fingerprint.compare(fingerprint.load(traced[0][1]),
                                 fingerprint.load(traced[1][1]))
        os.remove(traced[1][1])
        os.replace(traced[0][1], os.path.join(a.out, f"{w}.counts.jsonl"))
        layer = {n: m["value"] for n, m in traced[0][0]["metrics"].items()}
        lat = [t[0]["metrics"]["trace.latency_p50_ms"]["value"]
               for t in traced]
        fresh, _ = spread.run_one(w, a.fresh_seed, seconds, 0)
        report["workloads"][w] = {
            "untraced": u,
            "traced_per_layer": layer,
            "traced_correct": all(t[0]["correct"] for t in traced),
            "tracing_overhead": {
                "traced_latency_p50_ms": lat,
                "untraced_latency_p50_ms":
                    u["metrics"]["latency_p50_ms"]["median"],
                "overhead_share": [x / u["metrics"]["latency_p50_ms"]
                                   ["median"] - 1 for x in lat]},
            "fingerprint": {
                f"{verb}.{f}": {"calls": n, "differing": bad}
                for (verb, f), (n, bad) in sorted(fp.items())},
            "fresh_seed_run": fresh}
    with open(os.path.join(a.out, "BASELINE.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
