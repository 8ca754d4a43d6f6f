#!/usr/bin/env python3
"""Diff two Bench JSON outputs and flag per-query regressions.

    python3 dev/bench_compare.py BENCH_r04.json BENCH_OUT.json [threshold]

Prints the failed queries of each dump (value -1, with the cause from the
dump's "errors" when it has one), totals, per-query mean, queries
added/removed, and any query slower than `threshold`× (default 1.5) its old
time — separating real plan regressions from uniform machine-load shifts
(if EVERY query moved by a similar factor, it's load; if a handful moved,
look at those plans).
"""
import json
import sys


def load(path):
    d = json.load(open(path))
    qs = {k: v for k, v in d["queries"].items() if v >= 0}
    failed = {k: d.get("errors", {}).get(k) for k, v in d["queries"].items() if v < 0}
    return qs, failed


def main():
    a_path, b_path = sys.argv[1], sys.argv[2]
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    a, a_failed = load(a_path)
    b, b_failed = load(b_path)
    for path, failed in ((a_path, a_failed), (b_path, b_failed)):
        for q, cause in sorted(failed.items()):
            print(f"FAILED in {path}: {q}" + (f" ({cause})" if cause else ""))
    shared = sorted(set(a) & set(b))
    ta, tb = sum(a[q] for q in shared), sum(b[q] for q in shared)
    print(f"{a_path}: {sum(a.values()):.2f}s / {len(a)}   "
          f"{b_path}: {sum(b.values()):.2f}s / {len(b)}")
    print(f"shared {len(shared)} queries: {ta:.2f}s -> {tb:.2f}s "
          f"(x{tb / ta:.2f} overall — uniform shift suggests machine load)")
    # a key that failed on one side is listed above, not as added or removed
    added = sorted(set(b) - set(a) - set(a_failed))
    removed = sorted(set(a) - set(b) - set(b_failed))
    if added:
        print("added:", ", ".join(f"{q}={b[q]:.2f}s" for q in added))
    if removed:
        print("removed:", ", ".join(removed))
    flagged = [(q, a[q], b[q]) for q in shared
               if b[q] > thr * a[q] and b[q] - a[q] > 0.2]
    if flagged:
        print(f"\nqueries slower than {thr}x (and +0.2s):")
        for q, va, vb in sorted(flagged, key=lambda x: x[1] - x[2]):
            print(f"  {q:<28} {va:.2f}s -> {vb:.2f}s  (x{vb / va:.1f})")
    else:
        print(f"no query regressed more than {thr}x")


if __name__ == "__main__":
    main()
