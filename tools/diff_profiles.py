#!/usr/bin/env python3
"""Diff two Bench profiles (target/bench_detail.json) row by row and layer by layer.

Usage: diff_profiles.py OLD NEW

Prints, for every layer counter both files carry, its total over the
queries they share (old -> new), then one line per query whose jobs,
Janino compiles, shuffle bytes or spill bytes moved, and the queries only
one side ran or that failed on one side (a negative `sec`).

A report only: it exits 0 whatever moved. The one gate on job growth is
Bench's JobGate; to fail a run whose jobs rose over an earlier profile, run
Bench with SPARK_GRAFT_ASSERT_JOBS=<that bench_detail.json>. Compiles
follow Spark's codegen cache, so they move with the queries run before.
Shuffle and spill MB are flagged when they move by more than 1 %: the same
plan writes compressed blocks a few bytes apart when its rows arrive in
another order.
"""
import json
import sys

# The counters a flagged row is judged by; a field missing from either
# file (a profile written before it existed) is skipped.
MOVES = ["jobs", "codegen.compiles", "spark.shuffle_write_mb",
         "spark.shuffle_read_mb", "spark.spill_mb"]


def load(path):
    with open(path) as f:
        return json.load(f)["queries"]


def moved_by(a, b):
    if isinstance(a, int) and isinstance(b, int):
        return a != b
    return abs(b - a) > 0.01 * max(abs(a), abs(b))


def num(v):
    return f"{v:g}" if isinstance(v, float) else str(v)


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    old, new = load(argv[1]), load(argv[2])
    shared = sorted(set(old) & set(new))

    fields = [k for k in new[shared[0]] if all(k in old[q] and k in new[q] for q in shared)] \
        if shared else []
    print(f"{len(shared)} shared queries; layer totals (old -> new):")
    for k in fields:
        a = sum(old[q][k] for q in shared if old[q]["sec"] > 0 and new[q]["sec"] > 0)
        b = sum(new[q][k] for q in shared if old[q]["sec"] > 0 and new[q]["sec"] > 0)
        print(f"  {k:24s} {a:14.3f} -> {b:14.3f}  ({b - a:+.3f})")

    print("moved rows:")
    for q in shared:
        o, n = old[q], new[q]
        if (o["sec"] < 0) != (n["sec"] < 0):
            print(f"  {q}: {'fails' if n['sec'] < 0 else 'passes'} in new")
            continue
        moved = [f"{k} {num(o[k])} -> {num(n[k])}" for k in MOVES
                 if k in o and k in n and moved_by(o[k], n[k])]
        if moved:
            print(f"  {q}: " + ", ".join(moved))
    for q in sorted(set(old) - set(new)):
        print(f"  {q}: only in old")
    for q in sorted(set(new) - set(old)):
        print(f"  {q}: only in new")


if __name__ == "__main__":
    main(sys.argv)
