#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR

Each directory holds the stamped detail files that run.py leaves in
.bench_build/results/ (copy them aside between commits). For every
workload and end-to-end metric it prints the median and quartile spread
of each side and the change of the medians. Results whose stamps differ
in core count or input directory are refused: their figures do not
measure the same thing.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if not r["stamp"]["trace"]:
            runs.append(r)
    if not runs:
        sys.exit("compare: no untraced results in %s" % d)
    return runs


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    for key in ("cores", "sf"):
        seen = {r["stamp"][key] for r in before + after}
        if len(seen) > 1:
            sys.exit("compare: refusing, the results differ in %s: %s"
                     % (key, sorted(map(str, seen))))
    workloads = sorted({r["stamp"]["workload"] for r in before + after})
    print("%-10s %-13s %12s %7s %12s %7s %8s" % (
        "workload", "metric", "before", "iqr", "after", "iqr", "change"))
    for w in workloads:
        b = [r for r in before if r["stamp"]["workload"] == w]
        a = [r for r in after if r["stamp"]["workload"] == w]
        if not a or not b:
            print("%-10s only on one side" % w)
            continue
        for m in b[0]["metrics"]:
            mb, sb = spread([r["metrics"][m]["value"] for r in b])
            ma, sa = spread([r["metrics"][m]["value"] for r in a])
            change = (ma - mb) / mb if mb else 0.0
            print("%-10s %-13s %12.4f %7.3f %12.4f %7.3f %+8.3f" % (
                w, m, mb, sb, ma, sa, change))


if __name__ == "__main__":
    main()
