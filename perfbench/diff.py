#!/usr/bin/env python3
"""Layer diff of two benchmark result sets.

    python3 perfbench/diff.py <before> <after>

Each side is a directory (or a single file) of full results as run.py
writes them under .bench_build/results/. For every workload present on
either side it prints each end-to-end and per-layer metric's median and
quartiles, before and after, the change of the medians, and the tracing
overhead: the traced runs' op_p50_ms over the untraced runs'.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    files = [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*.json")))
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def collect(runs, workload):
    """metric -> values across runs: end-to-end from untraced runs,
    per-layer from traced runs, plus the traced op_p50_ms."""
    out = {}
    for r in runs:
        if r["workload"] != workload:
            continue
        if r["trace"]:
            for k, v in r["per_layer"].items():
                out.setdefault(("layer", k), []).append(v)
            out.setdefault(("traced", "op_p50_ms"), []).append(
                r["end_to_end"]["op_p50_ms"]["value"])
        else:
            for k, v in r["end_to_end"].items():
                out.setdefault(("e2e", k), []).append(v["value"])
    return out


def fmt(q):
    return "%12.4g %12.4g %12.4g" % q if q else "%12s %12s %12s" % ("-", "-", "-")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    if not before or not after:
        sys.exit("no results found")
    workloads = sorted({r["workload"] for r in before + after})
    for w in workloads:
        b, c = collect(before, w), collect(after, w)
        nb = sum(1 for r in before if r["workload"] == w)
        nc = sum(1 for r in after if r["workload"] == w)
        print("== %s (runs: %d before, %d after)" % (w, nb, nc))
        print("%-32s %38s   %38s %9s" % ("metric", "before q1 / median / q3",
                                         "after q1 / median / q3", "change"))
        for key in sorted(set(b) | set(c), key=lambda k: ("e2e", "layer", "traced").index(k[0])):
            qb = quartiles(b[key]) if key in b else None
            qc = quartiles(c[key]) if key in c else None
            change = ""
            if qb and qc and qb[1]:
                change = "%+8.1f%%" % (100.0 * (qc[1] - qb[1]) / abs(qb[1]))
            print("%-32s %s   %s %9s" % ("%s %s" % key, fmt(qb), fmt(qc), change))
        for side, m in (("before", b), ("after", c)):
            t, u = m.get(("traced", "op_p50_ms")), m.get(("e2e", "op_p50_ms"))
            if t and u:
                tm, um = statistics.median(t), statistics.median(u)
                print("tracing overhead (%s): traced op_p50 %.1f ms vs untraced %.1f ms: %+.1f%%"
                      % (side, tm, um, 100.0 * (tm - um) / um))
        print()


if __name__ == "__main__":
    main()
