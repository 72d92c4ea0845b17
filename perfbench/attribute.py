#!/usr/bin/env python3
"""Layer attribution between two commits, and tracing overhead.

    python3 perfbench/attribute.py BEFORE AFTER
    python3 perfbench/attribute.py --overhead DIR

BEFORE and AFTER are directories of run records (perfbench/out/ of each
commit, copied aside) or record files. Traced records (`--trace 1`) are
grouped by workload; per metric the median over seeds is taken, and the
self time and count deltas per layer are printed, largest first, so a
perf change shows the layer its saving landed in.

`--overhead` pairs untraced and traced records of the same workload and
seed in one directory and prints how much tracing moved each end-to-end
metric (median of the per-seed ratios).
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(paths):
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    return [json.load(open(f)) for f in files]


def layer_medians(records):
    """workload -> metric -> median over the traced records."""
    by = {}
    for r in records:
        if r.get("trace") == 1 and "per_layer" in r:
            by.setdefault(r["workload"], []).append(r["per_layer"])
    return {w: {k: statistics.median(x[k] for x in rs) for k in rs[0]} for w, rs in by.items()}


def attribute(before, after):
    """Rows of (workload, metric, before, after, delta), self time first,
    then by size of the relative change."""
    b, a = layer_medians(before), layer_medians(after)
    rows = []
    for w in sorted(set(b) & set(a)):
        for k in sorted(set(b[w]) & set(a[w])):
            rows.append((w, k, b[w][k], a[w][k], a[w][k] - b[w][k]))

    def rank(row):
        _, k, x, y, d = row
        rel = abs(d) / abs(x) if x else (1.0 if d else 0.0)
        return (not k.startswith("self_ms."), -rel)
    return sorted(rows, key=rank)


def overhead(records):
    """workload -> metric -> median ratio traced/untraced over seeds."""
    plain = {(r["workload"], r["seed"]): r for r in records if r.get("trace") == 0}
    ratios = {}
    for r in records:
        p = plain.get((r["workload"], r["seed"]))
        if r.get("trace") != 1 or p is None:
            continue
        for k, v in p["end_to_end"].items():
            t = r["end_to_end"].get(k)
            if t is not None and v:
                ratios.setdefault(r["workload"], {}).setdefault(k, []).append(t / v)
    return {w: {k: statistics.median(v) for k, v in m.items()} for w, m in ratios.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("paths", nargs="*")
    ap.add_argument("--overhead")
    a = ap.parse_args()
    if a.overhead:
        for w, m in sorted(overhead(load([a.overhead])).items()):
            for k, v in sorted(m.items()):
                print(f"{w:<8} {k:<14} traced/untraced {v:.3f}  ({(v - 1) * 100:+.1f}%)")
        return
    if len(a.paths) != 2:
        ap.error("give BEFORE and AFTER")
    rows = attribute(load([a.paths[0]]), load([a.paths[1]]))
    if not rows:
        sys.exit("no traced records of a common workload")
    print(f"{'workload':<8} {'metric':<28} {'before':>14} {'after':>14} {'delta':>14} {'rel':>8}")
    for w, k, x, y, d in rows:
        rel = f"{d / x * 100:+.1f}%" if x else "n/a"
        print(f"{w:<8} {k:<28} {x:>14.4g} {y:>14.4g} {d:>+14.4g} {rel:>8}")


if __name__ == "__main__":
    main()
