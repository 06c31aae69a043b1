"""The benchmark's own test: a smoke run (sf0.001, one short pass) of every
workload must pass its output checks and print every metric BENCHMARK.json
names, each with its unit — end-to-end metrics untraced, per-layer metrics
traced.

    python3 perfbench/test_smoke.py
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path):
    with open(path) as fh:
        return json.load(fh)


class SmokeTest(unittest.TestCase):
    spec = load(os.path.join(ROOT, "BENCHMARK.json"))
    workloads = sorted(load(os.path.join(HERE, "workloads.json"))["workloads"])

    def run_bench(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
            capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_every_metric_is_emitted_with_its_unit(self):
        for w in self.workloads:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    out = self.run_bench(w, trace)
                    self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
                    self.assertTrue(out["correct"])
                    self.assertGreaterEqual(out["attempted"], 1)
                    self.assertEqual(out["failed"], 0)
                    want = {m["name"]: m["unit"] for m in self.spec[key]}
                    got = {k: v["unit"] for k, v in out["metrics"].items()}
                    self.assertEqual(got, want)
                    for name, v in out["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), name)
                        self.assertTrue(math.isfinite(v["value"]), name)

    def test_refuses_to_run_without_the_program(self):
        # a directory holding only the benchmark: no sources to build
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project/target"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "batch_kernels", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
