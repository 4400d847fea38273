#!/usr/bin/env python3
"""Records a result set: the benchmark run over several seeds per workload.

    python3 perfbench/sweep.py OUT_DIR [--workloads a,b] [--seeds 1-10] [--trace 0|1]

Runs perfbench/run.py once per (workload, seed), one run at a time, with
BENCHMARK.json's run_seconds, and keeps each run's stdout as
OUT_DIR/<workload>/trace<t>-seed<n>.out — the layout perfbench/compare.py
reads. Then prints, per workload and end-to-end metric, the median, the
quartiles and the spread (q3 - q1) / median against a third of the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seed_range(s):
    lo, _, hi = s.partition("-")
    try:
        lo, hi = int(lo), int(hi or lo)
    except ValueError:
        raise argparse.ArgumentTypeError(f"--seeds must look like 1-10 or 7, got {s!r}")
    if hi < lo:
        raise argparse.ArgumentTypeError(f"--seeds range is empty: {s!r}")
    return list(range(lo, hi + 1))


def last_json(text):
    lines = [ln for ln in text.splitlines() if ln.strip()]
    return json.loads(lines[-1]) if lines else None


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarize(results, spec, out=sys.stdout):
    """results: {workload: [parsed last-line JSON, ...]}. Returns the summary dict."""
    summary = {}
    for w, runs in sorted(results.items()):
        summary[w] = {}
        for m in spec["end_to_end"] + spec["per_layer"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs if m["name"] in r["metrics"]]
            if not vals:
                continue
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else 0.0
            row = {"median": med, "q1": q1, "q3": q3, "n": len(vals), "unit": m["unit"]}
            if "bound" in m:
                row["spread"] = spread
                flag = "ok" if spread < m["bound"] / 3 else "WIDE"
                print(f"{w:16s} {m['name']:14s} median {med:.6g} {m['unit']}  q1 {q1:.6g}  q3 {q3:.6g}"
                      f"  spread {spread:.4f} (bound/3 {m['bound'] / 3:.4f}) {flag}  n={len(vals)}", file=out)
            summary[w][m["name"]] = row
    return summary


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--workloads", default=None, help="comma-separated (default: BENCHMARK.json's)")
    p.add_argument("--seeds", default="1-10", type=seed_range)
    p.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = p.parse_args(argv)
    spec = load_spec()
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    results = {}
    for w in names:
        os.makedirs(os.path.join(a.out_dir, w), exist_ok=True)
        for seed in a.seeds:
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                  text=True)
            secs = time.monotonic() - t0
            path = os.path.join(a.out_dir, w, f"trace{a.trace}-seed{seed}.out")
            with open(path, "w") as f:
                f.write(proc.stdout)
            res = last_json(proc.stdout) if proc.returncode == 0 else None
            status = "no result" if res is None else f"correct={res['correct']} failed={res['failed']}"
            print(f"[sweep] {w} seed {seed}: exit {proc.returncode}, {secs:.1f} s, {status}", flush=True)
            if res is not None:
                results.setdefault(w, []).append(res)
    summarize(results, spec)


if __name__ == "__main__":
    main(sys.argv[1:])
