#!/usr/bin/env python3
"""The benchmark's own tests, on its smoke scale (a few minutes):

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def test_every_named_metric_and_no_other(self):
        for w in SPEC["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    p = run("--workload", w["name"], "--seed", "7", "--seconds", "1",
                            "--trace", str(trace), "--scale", "smoke")
                    self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                    result = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(result["correct"], p.stdout)
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in SPEC[key]}
                    got = {n: m["unit"] for n, m in result["metrics"].items()}
                    self.assertEqual(got, want)
                    for n, m in result["metrics"].items():
                        self.assertIsInstance(m["value"], (int, float), n)

    def test_listener_counts_are_complete_and_repeat(self):
        p = run("--workload", "listener", "--seed", "1", "--scale", "smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        runs = json.loads(p.stdout.strip().splitlines()[-1])["runs"]
        self.assertEqual(len(runs), 2)
        self.assertEqual(runs[0], runs[1])
        self.assertEqual(runs[0]["open_jobs"], 0)
        self.assertGreater(runs[0]["jobs"], 0)
        self.assertGreaterEqual(runs[0]["tasks"], runs[0]["stages"])

    def test_fails_without_the_program(self):
        bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run("--workload", "store", "--seed", "1", "--seconds", "1", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse([ln for ln in p.stdout.splitlines() if ln.startswith("{")])
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
