#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload at tiny size.

    python3 perfbench/test_smoke.py

Asserts that every metric BENCHMARK.json names is emitted with its unit
(end-to-end with --trace 0, per-layer with --trace 1), that the outputs
pass their checks, and that a deliberately corrupted output fails them,
which proves the checks can fail. Takes a few minutes: each run starts
its own Spark session.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
ALL_WORKLOADS = ["train_flat", "train_grouped", "mice_flat", "mice_star"]


def run(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):

    def check_result(self, result, specs):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        for spec in specs:
            self.assertIn(spec["name"], result["metrics"])
            metric = result["metrics"][spec["name"]]
            self.assertEqual(metric["unit"], spec["unit"], spec["name"])
            self.assertIsInstance(metric["value"], (int, float), spec["name"])
        self.assertEqual(set(result["metrics"]), {s["name"] for s in specs})

    def test_every_workload_emits_every_metric(self):
        gated = {w["name"] for w in SPEC["workloads"]}
        self.assertTrue(gated <= set(ALL_WORKLOADS))
        for workload in ALL_WORKLOADS:
            with self.subTest(workload=workload):
                plain = run(workload, 0)
                self.check_result(plain, SPEC["end_to_end"])
                self.assertTrue(plain["correct"], plain)
                self.assertEqual(plain["failed"], 0)
                traced = run(workload, 1)
                self.check_result(traced, SPEC["per_layer"])
                self.assertTrue(traced["correct"], traced)

    def test_corrupted_output_fails_the_check(self):
        for workload in ["train_flat", "mice_star"]:
            with self.subTest(workload=workload):
                result = run(workload, 0, "--corrupt")
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)


if __name__ == "__main__":
    unittest.main()
