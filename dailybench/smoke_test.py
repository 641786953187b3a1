#!/usr/bin/env python3
"""Smoke test of the benchmark's own code at tiny sizes (about 3 minutes).

    python3 dailybench/smoke_test.py

Checks that every metric BENCHMARK.json names prints with its unit, and
that a tampered digest pin, a missing pin of a pinned seed or a day that
throws is reported as a failure rather than dropped.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace, *extra, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "dailybench", "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", "4",
                        "--trace", str(trace), "--tiny", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


class Smoke(unittest.TestCase):

    def assert_metrics(self, result, listed):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 2)
        self.assertEqual([(k, v["unit"]) for k, v in result["metrics"].items()],
                         [(m["name"], m["unit"]) for m in listed])
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_end_to_end_metrics_print_with_units(self):
        code, result, err = run("procurement_days", 0, "--pins", os.devnull)
        self.assertEqual(code, 0, err[-3000:])
        self.assertTrue(result["correct"])
        self.assert_metrics(result, SPEC["end_to_end"])
        for v in result["metrics"].values():
            self.assertGreater(v["value"], 0)

    def test_per_layer_metrics_print_with_units(self):
        code, result, err = run("curation_days", 1, "--pins", os.devnull)
        self.assertEqual(code, 0, err[-3000:])
        self.assert_metrics(result, SPEC["per_layer"])
        m = result["metrics"]
        self.assertGreater(m["operators.remove_and_append.jobs"]["value"], 0)
        self.assertGreater(m["operators.dedup_index.bytes"]["value"], 0)

    def test_tampered_digest_and_throwing_day_are_failures(self):
        with tempfile.TemporaryDirectory() as tmp:
            pins = os.path.join(tmp, "pins.json")
            with open(pins, "w") as fh:
                json.dump({"procurement_days": {"7": {"1": "0000000000000000"}}}, fh)
            code, result, err = run("procurement_days", 0, "--pins", pins, "--break-day", "2")
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        # day 1: tampered pin; day 2: throws; later days: the seed is pinned, they are not
        self.assertEqual(result["failed"], result["attempted"])
        self.assertIn("day 1 failed: digest", err)
        self.assertIn("day 2 failed: task load_orders failed", err)
        if result["attempted"] > 2:
            self.assertRegex(err, r"day 3 failed: digest \w+ has no pin")

    def test_refuses_without_graft_sources(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(BENCH, os.path.join(tmp, "dailybench"),
                            ignore=shutil.ignore_patterns(".build", "target"))
            code, result, _ = run("procurement_days", 0, cwd=tmp)
        self.assertNotEqual(code, 0)
        self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main()
