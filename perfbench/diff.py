#!/usr/bin/env python3
"""Per-layer diff of two traced benchmark runs, workload x layer metric.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are each a traced report written by ``perfbench/run.py --trace 1``
(``.perfbench/reports/<workload>-seed<n>-trace1.json``) or a directory of
them; a directory's reports of one workload are reduced to the median of
each metric. Every ratio is printed beside the base it is taken against.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    """{workload: {metric: median value}} over the traced reports at path."""
    files = sorted(glob.glob(os.path.join(path, "*-trace1.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r["trace"] == 1:
            runs.setdefault(r["workload"], []).append(r["metrics"])
    return {w: {k: statistics.median(m[k] for m in ms) for k in ms[0] if all(k in m for m in ms)}
            for w, ms in runs.items()}, {w: len(ms) for w, ms in runs.items()}


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    (base, nb), (new, nn) = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<14} {'metric':<26} {'base':>12} {'new':>12}  ratio (new/base)")
    for w in sorted(set(base) & set(new)):
        print(f"# {w}: base median of {nb[w]} traced run(s), new median of {nn[w]}")
        for k in base[w]:
            b, n = base[w][k], new[w].get(k)
            if n is None:
                continue
            ratio = f"{n / b:.3f} of {b:.6g}" if b else "n/a (base 0)"
            print(f"{w:<14} {k:<26} {b:>12.6g} {n:>12.6g}  {ratio}")
    for w in sorted(set(base) ^ set(new)):
        print(f"# {w}: only in {'base' if w in base else 'new'}")


if __name__ == "__main__":
    main()
