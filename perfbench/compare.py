#!/usr/bin/env python3
"""Compare two sets of benchmark results, run by run.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result files written by run.py
(.bench_build/perfbench/results/<workload>-seed<n>-trace<t>.json).
Results are paired by (workload, seed, trace). A pair whose cores,
heap, scale factor or seed differ is refused: numbers from unlike hosts
or inputs are not comparable. For every workload and end-to-end metric
the script prints both medians, the base's quartile spread and whether
the new median is within the metric's bound from BENCHMARK.json.
"""
import glob
import json
import os
import statistics
import sys

MATCH = ("nproc", "heap_mb", "sf", "seed")


def load(d):
    out = {}
    for p in glob.glob(os.path.join(d, "*.json")):
        r = json.load(open(p))
        out[(r["workload"], r["seed"], r["trace"])] = r
    return out


def spread(values):
    if len(values) < 2:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    pairs = sorted(set(base) & set(new))
    if not pairs:
        sys.exit("no result pairs share a workload, seed and trace setting")
    refused = []
    for k in pairs:
        a, b = base[k]["self"], new[k]["self"]
        diff = [f"{f} {a.get(f)} vs {b.get(f)}" for f in MATCH if a.get(f) != b.get(f)]
        if diff:
            refused.append(f"{k[0]} seed {k[1]}: " + ", ".join(diff))
    if refused:
        print("refusing to compare unlike results:\n  " + "\n  ".join(refused), file=sys.stderr)
        sys.exit(1)
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    print(f"{'workload':18} {'metric':14} {'base':>12} {'new':>12} {'new/base':>9} {'spread':>7}  verdict")
    for w in sorted({k[0] for k in pairs}):
        ks = [k for k in pairs if k[0] == w and k[2] is False]
        for name, m in bounds.items():
            a = [base[k]["end_to_end"][name]["value"] for k in ks if name in base[k]["end_to_end"]]
            b = [new[k]["end_to_end"][name]["value"] for k in ks if name in new[k]["end_to_end"]]
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            sp = spread(a)
            verdict = ("unresolved" if sp > m["bound"] else
                       "regressed" if worse > m["bound"] else "ok")
            print(f"{w:18} {name:14} {ma:12.4f} {mb:12.4f} {mb / ma:9.3f} {sp:7.3f}  {verdict} (n={len(ks)})")


if __name__ == "__main__":
    main()
