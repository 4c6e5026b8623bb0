#!/usr/bin/env python3
"""Compare two sets of traced benchmark results layer by layer.

    python3 perfbench/layer_diff.py BASE CHANGE

BASE and CHANGE are result files written by `run.py --trace 1`
(.bench_build/results/<workload>-seed<n>-trace1.json) or directories of
them. Results are matched by workload (several seeds of one workload are
reduced to their median). For each workload and per-layer metric the tool
prints both values and the ratio CHANGE/BASE with its base, so a
regression reads from the artifacts alone: a split-size change that
fragments writes shows as a jump in io.write_files and sched.tasks.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    """{workload: {metric: (median value, unit, runs)}}."""
    files = (sorted(glob.glob(os.path.join(path, "*-trace1.json")))
             if os.path.isdir(path) else [path])
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") != 1:
            continue
        runs.setdefault(r["workload"], []).append(r["metrics"])
    out = {}
    for w, ms in runs.items():
        out[w] = {k: (statistics.median(m[k]["value"] for m in ms if k in m),
                      ms[0][k]["unit"], len(ms)) for k in ms[0]}
    return out


def ratio(base, change):
    if base == 0:
        return "both 0" if change == 0 else "base 0"
    return f"{change / base:.3f}x of {fmt(base)}"


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    base, change = load(argv[1]), load(argv[2])
    if not base or not change:
        sys.exit("no traced results found in one of the inputs")
    for w in sorted(set(base) | set(change)):
        if w not in base or w not in change:
            print(f"== {w}: only in {'base' if w in base else 'change'}")
            continue
        b, c = base[w], change[w]
        print(f"== {w} (base runs {next(iter(b.values()))[2]}, "
              f"change runs {next(iter(c.values()))[2]})")
        print(f"{'metric':32} {'unit':>6} {'base':>12} {'change':>12}  ratio (change/base)")
        for k in sorted(set(b) | set(c)):
            if k not in b or k not in c:
                print(f"{k:32} only in {'base' if k in b else 'change'}")
                continue
            print(f"{k:32} {b[k][1]:>6} {fmt(b[k][0]):>12} {fmt(c[k][0]):>12}  "
                  f"{ratio(b[k][0], c[k][0])}")


if __name__ == "__main__":
    main(sys.argv)
