#!/usr/bin/env python3
"""Merge full-registry Bench recordings into the baseline artifacts.

Noise-robust estimator (BASELINE.md round-10 discipline): per-query
sec = min across runs (and the prior recording, when the query's code is
unchanged), jobs = max across runs. Flags any job-count DRIFT vs the prior
recording for untouched queries — that is a plan change, not noise, and
must be explained in the commit, not silently absorbed.

Usage: merge_bench.py PRIOR OUT what-text NEW_QUERY[,NEW_QUERY...] RUN1 [RUN2 ...]
  PRIOR: existing bench/history/BENCH_local_*.json (or '-' for none)
  OUT:   path to write merged {what, total, sf, queries} artifact
  NEW_QUERY: comma-separated names whose code is new/changed this round
             (prior rows for them, if any, are ignored)
"""
import json, sys

prior_path, out_path, what, new_csv = sys.argv[1:5]
runs = [json.load(open(p)) for p in sys.argv[5:]]
new_names = set(filter(None, new_csv.split(",")))
prior = {} if prior_path == "-" else json.load(open(prior_path)).get("queries", {})

names = set()
for r in runs:
    names |= set(r["queries"])

merged, drift = {}, []
for n in sorted(names):
    rows = [r["queries"][n] for r in runs if n in r["queries"]]
    assert all(row["sec"] > 0 for row in rows), f"{n}: failed run recorded"
    secs = [row["sec"] for row in rows]
    jobs = [row["jobs"] for row in rows]
    if n in prior and n not in new_names:
        secs.append(prior[n]["sec"])
        if max(jobs) != prior[n]["jobs"]:
            drift.append(f"{n}: jobs {prior[n]['jobs']} -> {sorted(set(jobs))}")
        jobs.append(prior[n]["jobs"])
    merged[n] = {"sec": round(min(secs), 3), "jobs": max(jobs)}

total = round(sum(v["sec"] for v in merged.values()), 3)
out = {"what": what, "total": total, "sf": runs[0]["sf"], "queries": merged}
json.dump(out, open(out_path, "w"), indent=None, separators=(",", ":"))
print(f"merged {len(merged)} queries, total {total}s -> {out_path}")
for d in drift:
    print("JOB DRIFT:", d)
