#!/usr/bin/env python3
import json, sys, statistics as st
better = {"setup_s": "lower", "latency_p50_ms": "lower", "docs_per_s": "higher",
          "recall": "higher", "retained_heap_mb": "lower"}
bound = {"setup_s": .25, "latency_p50_ms": .25, "docs_per_s": .25, "recall": .1, "retained_heap_mb": .25}
def q(xs, p):
    xs = sorted(xs); k = (len(xs) - 1) * p; f = int(k); c = min(f + 1, len(xs) - 1)
    return xs[f] + (xs[c] - xs[f]) * (k - f)
for path in sys.argv[1:]:
    recs = [json.loads(l) for l in open(path)]
    by = {}
    for r in recs: by.setdefault(r["side"], {})[r["run"]] = r
    n = {s: len(v) for s, v in by.items()}
    print(f"{path.split('/')[-1]} runs: {n} failed: " +
          str({s: sum(r.get('failed', 1) for r in v.values()) for s, v in by.items()}) +
          " correct: " + str({s: all(r.get('correct') for r in v.values()) for s, v in by.items()}))
    for m in better:
        pv = [by["parent"][i]["metrics"][m]["value"] for i in sorted(by["parent"])]
        cv = [by["change"][i]["metrics"][m]["value"] for i in sorted(by["change"])]
        pm, cm = st.median(pv), st.median(cv)
        rel = (cm - pm) / pm if pm else 0.0
        wins = ties = 0
        for i in sorted(by["parent"]):
            a, b = by["parent"][i]["metrics"][m]["value"], by["change"][i]["metrics"][m]["value"]
            if a == b: ties += 1
            elif (b < a) == (better[m] == "lower"): wins += 1
        worse = rel if better[m] == "lower" else -rel
        print(f"  {m:18s} parent med {pm:9.2f} [q1 {q(pv,.25):9.2f} q3 {q(pv,.75):9.2f}]  change med {cm:9.2f} [q1 {q(cv,.25):9.2f} q3 {q(cv,.75):9.2f}]  rel {rel:+.3f}  wins {wins}/{len(pv)} ties {ties}  within bound {bound[m]}: {worse <= bound[m]}")
