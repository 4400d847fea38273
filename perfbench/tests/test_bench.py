"""The benchmark's own tests: smoke runs at tiny sizes, argument errors,
the refusal to run without the program's sources, and the compare verdicts.

    python3 -m unittest discover -s perfbench/tests -v

The smoke runs build the program if needed and take a few minutes.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import compare  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=timeout)


class SmokeTest(unittest.TestCase):

    def check_run(self, workload, trace, expected):
        p = run(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"])
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], p.stderr[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in expected))
        for m in expected:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            # every metric is also printed as a `name value unit` line
            self.assertTrue(any(ln.split()[:1] == [m["name"]] and ln.split()[2] == m["unit"]
                                for ln in lines[:-1]), m["name"])
        self.assertIn("failed_frac 0.0 ratio", p.stdout)
        return res

    def test_end_to_end_metrics(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check_run(w["name"], 0, SPEC["end_to_end"])

    def test_per_layer_metrics(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                res = self.check_run(w["name"], 1, SPEC["per_layer"])
                self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0)


class ArgumentTest(unittest.TestCase):

    def refused(self, args, message):
        p = run(args, timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertIn(message, p.stderr)
        self.assertNotIn("{", p.stdout)

    def test_bad_arguments_fail_loudly(self):
        base = {"--workload": "radio_bulk", "--seed": "1", "--seconds": "1", "--trace": "0"}
        cases = [("--seed", "12x", "--seed must be a base-10 integer"),
                 ("--workload", "radio", "invalid choice: 'radio'"),
                 ("--trace", "2", "--trace must be in [0, 1]"),
                 ("--seconds", "0", "--seconds must be in [1, 600]")]
        for flag, value, message in cases:
            with self.subTest(flag=flag):
                args = dict(base, **{flag: value})
                self.refused([x for kv in args.items() for x in kv], message)

    def test_refuses_without_program_sources(self):
        d = os.path.join(ROOT, ".bench_build", "no_sources")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        try:
            p = run(["--workload", "radio_bulk", "--seed", "1", "--seconds", "1", "--trace", "0"],
                    cwd=d, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertIn("no program sources", p.stderr)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


class CompareTest(unittest.TestCase):

    def test_verdicts(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0]
        faster = [v * 0.8 for v in parent]
        slower = [v * 1.3 for v in parent]
        same = list(reversed(parent))
        v = compare.verdict
        self.assertEqual(v(parent, faster, list(zip(parent, faster)), 0.1, True), "better")
        self.assertEqual(v(parent, slower, list(zip(parent, slower)), 0.1, True), "worse")
        self.assertEqual(v(parent, same, list(zip(parent, same)), 0.1, True), "within bound")
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(v(noisy, noisy, list(zip(noisy, noisy)), 0.1, True), "unresolved")
        # higher-is-better metrics flip the direction
        self.assertEqual(v(parent, slower, list(zip(parent, slower)), 0.1, False), "better")

    def test_counts_moved(self):
        # Two result sets of the same code: jobs repeat exactly, Janino
        # compiles and MB figures do not.
        def runs(compiles, mb):
            return [{"spark.jobs": 36.0, "codegen.compiles": c, "jvm.alloc_mb": a}
                    for c, a in zip(compiles, mb)]
        parent = runs([21, 10, 12, 21, 15], [2244.1, 2247.0, 2250.3, 2241.9, 2246.2])
        same = runs([10, 11, 21, 19, 12], [2247.0, 2249.5, 2243.8, 2251.0, 2240.7])
        self.assertEqual(compare.moved_counts(SPEC, parent, same), [])
        more_jobs = [dict(r, **{"spark.jobs": 37.0}) for r in same]
        self.assertEqual([ln.split()[0] for ln in compare.moved_counts(SPEC, parent, more_jobs)],
                         ["spark.jobs"])
        fewer_compiles = [dict(r, **{"codegen.compiles": 2.0}) for r in same]
        self.assertEqual([ln.split()[0] for ln in compare.moved_counts(SPEC, parent, fewer_compiles)],
                         ["codegen.compiles"])


if __name__ == "__main__":
    unittest.main()
