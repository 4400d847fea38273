#!/usr/bin/env python3
"""Compares two result sets of the benchmark: a parent and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds OUT/<workload>/trace<t>-seed<n>.out files (the stdout
of perfbench/run.py, as perfbench/sweep.py records them). For every
workload and end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the ratio change/parent with its base, and a verdict:

- better: the change wins at least 9 in 10 seed-paired runs and the medians
  differ by more than the parent's own spread (q3 - q1);
- worse: the change's median is worse than the parent's by more than the
  metric's bound;
- unresolved: the parent's spread is wider than the bound, and not every
  change run beats every parent run;
- within bound: otherwise.

From traced runs (trace1-*.out) it also flags per-layer counts that moved:
jobs, stages and tasks, which repeat exactly for the same code, when their
medians differ at all; Janino compiles and MB figures, which vary from run
to run, when the medians differ by more than the parent's own range (max -
min over its runs) and by more than NOISY_TOLERANCE of the parent's median.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT_COUNTS = ("jobs", "stages", "tasks")
NOISY_COUNTS = ("compiles", "_mb")
NOISY_TOLERANCE = 0.1


def load_set(d, trace):
    """{workload: {seed: metrics}} from one result-set directory."""
    out = {}
    if not os.path.isdir(d):
        raise SystemExit(f"compare: not a directory: {d}")
    prefix = f"trace{trace}-seed"
    for w in sorted(os.listdir(d)):
        wd = os.path.join(d, w)
        if not os.path.isdir(wd):
            continue
        for name in sorted(os.listdir(wd)):
            if not (name.startswith(prefix) and name.endswith(".out")):
                continue
            with open(os.path.join(wd, name)) as f:
                lines = [ln for ln in f.read().splitlines() if ln.strip()]
            if not lines:
                continue
            try:
                res = json.loads(lines[-1])
            except json.JSONDecodeError:
                continue
            seed = name[len(prefix):-len(".out")]
            out.setdefault(w, {})[seed] = {k: v["value"] for k, v in res["metrics"].items()}
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent, change, pairs, bound, lower_is_better):
    """Verdict for one metric; `pairs` are seed-matched (parent, change) values."""
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    sign = 1 if lower_is_better else -1
    worse_by = sign * (cm - pm) / pm if pm else 0.0
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    all_beat = all(sign * (c - p) < 0 for p in parent for c in change)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1):
        return "better"
    if worse_by > bound:
        return "worse"
    if pm and (p3 - p1) / pm > bound and not all_beat:
        return "unresolved"
    return "within bound"


def moved_counts(spec, parent_runs, change_runs):
    """Lines naming each per-layer count whose median moved from the parent
    runs to the change runs (each run a {metric: value} dict)."""
    moved = []
    for m in spec["per_layer"]:
        name = m["name"]
        exact = any(k in name for k in EXACT_COUNTS)
        if not exact and not any(k in name for k in NOISY_COUNTS):
            continue
        pv = [r[name] for r in parent_runs if name in r]
        cv = [r[name] for r in change_runs if name in r]
        if not pv or not cv:
            continue
        pm, cm = statistics.median(pv), statistics.median(cv)
        if exact:
            if pm == cm:
                continue
        elif abs(cm - pm) <= max(max(pv) - min(pv), NOISY_TOLERANCE * abs(pm)):
            continue
        ratio = f"{cm / pm:.4f}" if pm else "n/a"
        moved.append(f"{name} {pm:.6g} -> {cm:.6g} {m['unit']} (ratio {ratio}, base {pm:.6g})")
    return moved


def compare(parent_dir, change_dir, spec, out=sys.stdout):
    """Prints the comparison; returns the number of 'worse' verdicts."""
    worse = 0
    parent, change = load_set(parent_dir, 0), load_set(change_dir, 0)
    for w in sorted(set(parent) & set(change)):
        print(f"== {w}: {len(parent[w])} parent runs, {len(change[w])} change runs", file=out)
        for m in spec["end_to_end"]:
            name = m["name"]
            pv = {s: r[name] for s, r in parent[w].items() if name in r}
            cv = {s: r[name] for s, r in change[w].items() if name in r}
            if not pv or not cv:
                print(f"  {name}: missing on one side", file=out)
                continue
            pairs = [(pv[s], cv[s]) for s in sorted(set(pv) & set(cv))]
            v = verdict(list(pv.values()), list(cv.values()), pairs, m["bound"], m["better"] == "lower")
            worse += v == "worse"
            p1, pm, p3 = quartiles(list(pv.values()))
            c1, cm, c3 = quartiles(list(cv.values()))
            ratio = f"{cm / pm:.4f}" if pm else "n/a"
            print(f"  {name:14s} parent {pm:.6g} [{p1:.6g}, {p3:.6g}]  change {cm:.6g} [{c1:.6g}, {c3:.6g}] "
                  f"{m['unit']}  ratio {ratio} (change {cm:.6g} / parent {pm:.6g})  "
                  f"bound {m['bound']}  -> {v}", file=out)
    tp, tc = load_set(parent_dir, 1), load_set(change_dir, 1)
    for w in sorted(set(tp) & set(tc)):
        moved = moved_counts(spec, list(tp[w].values()), list(tc[w].values()))
        print(f"== {w} per-layer counts: " + ("unchanged" if not moved else "MOVED"), file=out)
        for line in moved:
            print(f"  {line}", file=out)
    return worse


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent")
    p.add_argument("change")
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    compare(a.parent, a.change, spec)


if __name__ == "__main__":
    main(sys.argv[1:])
