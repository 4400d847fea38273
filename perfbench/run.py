#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload radio_bulk --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), then runs the
benchmark's JVM side (perfbench/src): one Spark session at local[nproc],
seeded inputs, warm-up, timed passes from one driver thread, output checks.
Prints one `name value unit` line per metric, then, as the last line, a
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(see BENCHMARK.json); the traced run also writes every span to
.bench_build/work/<workload>/trace_<workload>.json.

Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("radio_bulk", "curation_heavy")
OUT = os.path.join(ROOT, ".bench_build")
# A run must end within 180 s; the first one in a checkout may also build.
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880
# JDK 17 module opens Spark needs outside spark-submit (the program's
# build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def _int_in(lo, hi, what):
    def parse(s):
        try:
            v = int(s, 10)
        except ValueError:
            raise argparse.ArgumentTypeError(f"{what} must be a base-10 integer, got {s!r}")
        if not lo <= v <= hi:
            raise argparse.ArgumentTypeError(f"{what} must be in [{lo}, {hi}], got {v}")
        return v
    return parse


def parse_args(argv):
    p = argparse.ArgumentParser(description="graft benchmark (see BENCHMARK.json)")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=_int_in(-2**63, 2**63 - 1, "--seed"))
    p.add_argument("--seconds", required=True, type=_int_in(1, 600, "--seconds"))
    p.add_argument("--trace", required=True, type=_int_in(0, 1, "--trace"))
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(a, classes, work, limit_s):
    jars = os.path.join(build.spark_jars(), "*")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    # ParallelGC: over ten seeds on 4 cores, the quartile spread of
    # radio_bulk's wall_s was 15-20 % of its median under G1, 7 % under
    # ParallelGC.
    cmd = (["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xss16m"]
           + [x for m in ADD_OPENS for x in ("--add-opens", m + "=ALL-UNNAMED")]
           + ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={work}/tmp", "-cp", f"{classes}{os.pathsep}{jars}",
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--out", os.path.join(work, "result.json"), "--cpus", str(nproc()),
              "--smoke", "1" if a.smoke else "0"])
    os.makedirs(os.path.join(work, "tmp"))
    # The JVM's own output goes to stderr: stdout carries only the metrics.
    # On timeout subprocess.run kills the JVM and waits for it.
    proc = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, timeout=limit_s)
    if proc.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main(argv):
    a = parse_args(argv)
    t0 = time.monotonic()
    fresh = not os.path.isdir(os.path.join(OUT, "classes"))
    try:
        classes = build.build(OUT)
    except build.BuildError as e:
        print(f"[bench] build failed: {e}", file=sys.stderr)
        return 1
    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    limit = (FIRST_RUN_LIMIT_S if fresh else RUN_LIMIT_S) - (time.monotonic() - t0)
    try:
        res = run_jvm(a, classes, work, max(limit, 1))
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        print(f"[bench] {a.workload}: {e}", file=sys.stderr)
        return 1
    attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
    if a.workload == "curation_heavy":
        import oracle
        verdicts = oracle.check(os.path.join(work, "out"), res["input_dir"], nproc())
        attempted += len(verdicts)
        bad = {q: v for q, v in verdicts.items() if v is not None}
        failed += len(bad)
        errors += [f"{q}: oracle mismatch: {v}" for q, v in sorted(bad.items())]
    for e in errors:
        print(f"[bench] FAILED {e}", file=sys.stderr)
    for m in res["info"]:
        print(f"# {m['name']} {m['value']!r} {m['unit']}")
    print(f"failed_frac {failed / attempted!r} ratio  ({failed} of {attempted} operations)")
    for m in res["metrics"]:
        print(f"{m['name']} {m['value']!r} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": m["value"], "unit": m["unit"]} for m in res["metrics"]},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
