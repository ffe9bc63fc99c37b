"""Tests for the benchmark itself (each starts a JVM; about a minute per run).

Run from the repository root:  python3 -m unittest perfbench/test_run.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(*args):
    res = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "7", "--sf", "0.001",
                          "--seconds", "1"] + list(args),
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def names_units(metrics):
    return {k: v["unit"] for k, v in metrics.items()}


class SmokeTest(unittest.TestCase):
    def check(self, out, spec):
        self.assertEqual(names_units(out["metrics"]), {m["name"]: m["unit"] for m in spec})
        self.assertGreaterEqual(out["attempted"], 1)

    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in [w["name"] for w in BENCH["workloads"]]:
            with self.subTest(workload=w):
                out = run("--workload", w, "--trace", "0")
                self.check(out, BENCH["end_to_end"])
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)

    def test_traced_run_prints_every_per_layer_metric(self):
        self.check(run("--workload", "nhl_pipeline", "--trace", "1"), BENCH["per_layer"])

    def test_wrong_expected_fingerprint_counts_as_failed_op(self):
        out = run("--workload", "sql_analytics", "--trace", "0", "--corrupt", "tpch_q1")
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)


if __name__ == "__main__":
    unittest.main()
