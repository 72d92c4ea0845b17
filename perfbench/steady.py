#!/usr/bin/env python3
"""Steadiness check: run a workload once per seed and report, for each
end-to-end metric, its median and its inter-quartile spread as a share of
the median, against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload serve --seeds 1-10 [--save runs.json]
    python3 perfbench/steady.py --compare first.json second.json

Run from the repository root. `--compare` takes two saved sets of runs and
reports how much worse the second median is than the first, per metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(workload, seed_list, seconds):
    runs = []
    for s in seed_list:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                              "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                             capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s} failed:\n{out.stderr[-2000:]}")
        last = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(last)
        print(f"seed {s}: correct={last['correct']} failed={last['failed']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
    return runs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    if a.compare:
        first, second = (json.load(open(f)) for f in a.compare)
        for name, m in bounds.items():
            v1 = [r["metrics"][name]["value"] for r in first]
            v2 = [r["metrics"][name]["value"] for r in second]
            w = stats.worse_by(v1, v2, m["better"])
            print(f"{name:<14} worse by {w:+.3f}  bound {m['bound']}  "
                  f"{'ok' if w <= m['bound'] else 'OVER'}")
        return
    runs = run_set(a.workload, seeds(a.seeds), spec["run_seconds"])
    if a.save:
        json.dump(runs, open(a.save, "w"))
    for name, m in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        sp = stats.spread(vals) if len(vals) >= 2 else float("nan")
        verdict = "ok" if sp < m["bound"] / 3 else ("within" if sp <= m["bound"] else "OVER")
        print(f"{name:<14} median {statistics.median(vals):<12.5g} spread {sp:.3f}  "
              f"bound {m['bound']}  {verdict}")


if __name__ == "__main__":
    main()
