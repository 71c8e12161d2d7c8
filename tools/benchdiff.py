#!/usr/bin/env python3
"""Bench-diff harness (dev tool; the shipped library is pure Scala).

Diffs a fresh bench_out.json against a prior round's committed bench
file and prints a mechanical decomposition — the table PLANS.md lands
each round so "ambient drift" claims point at data, not prose.

Usage: python3 tools/benchdiff.py <new.json> <old.json> [--ratio 2.0] [--abs 0.5]

Accepts the Bench.scala output shape ({"queries": {q: seconds}}) or its
per-query layer file ({"queries": {q: {"wall_s": ..., "jobs": ...}}},
written next to it as <name>.layers.json). A round's BENCH_r{N}.json
wrapper is refused: its "tail" holds a truncated JSON string, so pass
the matching bench_out.json instead.

Prints: new-only queries (cost of the round's additions), removed
queries, carried queries whose delta exceeds EITHER threshold (ratio
or absolute seconds, both directions), and the total decomposition
new-total = old-total + additions + carried-drift. Queries with a null
median (every sample failed) are listed and left out of the sums. Given
two layer files, the per-query delta of every layer counter (jobs,
stages, tasks, task_s, gc_s, shuffle_mb, spill_mb) follows, with any
change in the failure root cause.
"""
import json
import sys


def load(path):
    """(walls, layers, failed): median seconds of each query that has one,
    the per-query layer records or None, and the queries with a null median."""
    with open(path) as f:
        d = json.load(f)
    qs = d.get("queries") if isinstance(d, dict) else None
    if not isinstance(qs, dict):
        raise SystemExit(
            f"{path}: no 'queries' map — pass a bench_out.json, not the "
            f"BENCH_r wrapper (its 'tail' is truncated)")
    layers = None
    if all(isinstance(v, dict) for v in qs.values()):
        layers, qs = qs, {q: v.get("wall_s") for q, v in qs.items()}
    walls = {q: v for q, v in qs.items() if v is not None}
    return walls, layers, sorted(q for q, v in qs.items() if v is None)


def layer_rows(new, old):
    """(query, [(counter, new - old)], (old failure, new failure) or None)
    for each query in both layer maps, in name order."""
    rows = []
    for q in sorted(set(new) & set(old)):
        counters = [k for k, v in new[q].items()
                    if k != "wall_s" and isinstance(v, (int, float))
                    and isinstance(old[q].get(k), (int, float))]
        deltas = [(k, new[q][k] - old[q][k]) for k in counters]
        fail = (old[q].get("failure"), new[q].get("failure"))
        rows.append((q, deltas, fail if fail[0] != fail[1] else None))
    return rows


def print_layers(new, old):
    rows = layer_rows(new, old)
    if not rows:
        print("\nno query has layers on both sides.")
        return
    names = [k for k, _ in rows[0][1]]
    width = max(len(q) for q, _, _ in rows)
    print("\nper-query layer deltas (new - old):")
    print(f"  {'query':<{width}}" + "".join(f"  {k:>10}" for k in names))
    for q, deltas, fail in rows:
        cells = dict(deltas)
        print(f"  {q:<{width}}" + "".join(
            f"  {cells[k]:>+10.3f}" if k in cells else f"  {'-':>10}"
            for k in names))
        if fail:
            print(f"  {'':<{width}}  failure: {fail[0]} -> {fail[1]}")


def main():
    args, ratio_thr, abs_thr = [], 2.0, 0.5
    toks = sys.argv[1:]
    i = 0
    while i < len(toks):
        if toks[i] in ("--ratio", "--abs"):
            if i + 1 >= len(toks):
                raise SystemExit(f"{toks[i]} requires a value\n{__doc__}")
            try:
                val = float(toks[i + 1])
            except ValueError:
                raise SystemExit(
                    f"{toks[i]} value {toks[i + 1]!r} is not a number\n"
                    f"{__doc__}")
            if toks[i] == "--ratio":
                ratio_thr = val
            else:
                abs_thr = val
            i += 2
        elif toks[i].startswith("--"):
            raise SystemExit(f"unknown flag {toks[i]}\n{__doc__}")
        else:
            args.append(toks[i]); i += 1
    if len(args) != 2:
        raise SystemExit(__doc__)
    (new, new_layers, new_failed), (old, old_layers, old_failed) = \
        load(args[0]), load(args[1])

    added = sorted(set(new) - set(old) - set(old_failed))
    removed = sorted(set(old) - set(new) - set(new_failed))
    carried = sorted(set(new) & set(old))

    add_cost = sum(new[q] for q in added)
    rem_cost = sum(old[q] for q in removed)
    drift = sum(new[q] - old[q] for q in carried)

    print(f"old total: {sum(old.values()):8.1f} s / {len(old)} queries")
    print(f"new total: {sum(new.values()):8.1f} s / {len(new)} queries")
    print(f"decomposition: +{add_cost:.1f} s new queries ({len(added)}), "
          f"-{rem_cost:.1f} s removed ({len(removed)}), "
          f"{drift:+.1f} s carried drift ({len(carried)} queries)")
    if added:
        print("\nnew queries (cost of the round's additions):")
        for q in sorted(added, key=lambda q: -new[q]):
            print(f"  {new[q]:7.2f} s  {q}")
    if removed:
        print("\nremoved queries:")
        for q in removed:
            print(f"  {old[q]:7.2f} s  {q}")

    flagged = []
    for q in carried:
        d = new[q] - old[q]
        r = new[q] / old[q] if old[q] > 0 else float("inf")
        if abs(d) > abs_thr or r > ratio_thr or (r > 0 and 1 / r > ratio_thr):
            flagged.append((d, r, q))
    if flagged:
        print(f"\ncarried queries over threshold (|Δ|>{abs_thr}s or "
              f"ratio>{ratio_thr}×), worst first:")
        print(f"  {'Δ sec':>8}  {'ratio':>6}  {'old':>7}  {'new':>7}  query")
        for d, r, q in sorted(flagged, key=lambda t: -abs(t[0])):
            print(f"  {d:+8.2f}  {r:5.2f}x  {old[q]:7.2f}  {new[q]:7.2f}  {q}")
    else:
        print(f"\nno carried query moved more than {abs_thr}s or {ratio_thr}x.")
    for label, failed in (("new", new_failed), ("old", old_failed)):
        if failed:
            print(f"\nfailed in {label} (null median): {', '.join(failed)}")
    if new_layers is not None and old_layers is not None:
        print_layers(new_layers, old_layers)


if __name__ == "__main__":
    main()
