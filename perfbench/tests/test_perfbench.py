"""Tests of the benchmark itself: its command-line contract and the
change generator's self-test.

    python3 -m unittest discover perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def run(*args):
    return subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args], cwd=ROOT,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)


class CommandLine(unittest.TestCase):

    def test_unknown_workload_exits_nonzero_without_result(self):
        r = run("--workload", "no_such_workload", "--seed", "1", "--seconds", "1", "--trace", "0")
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")
        self.assertIn("unknown workload", r.stderr)

    def test_benchmark_json_names_metrics_once(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])


class Generator(unittest.TestCase):

    def test_generator_selftest_passes(self):
        r = run("--selftest")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertIn("selftest: all checks pass", r.stdout)
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
