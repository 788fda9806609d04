#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes.

    python3 -m unittest discover -s perfbench/tests -v

Runs every workload through `perfbench/run.py --tiny` and checks that
  - every metric BENCHMARK.json names is printed, with its unit;
  - a clean run reports no failed operation;
  - a corrupted expected value (`--corrupt`) shows up as failures;
  - the fake API and the cache report what the workloads are built for.
Takes a few minutes: each run starts a JVM with a local Spark session.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
# grow_warm runs on demand only; the self-test still covers it
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["grow_warm"]
TINY_RECORDS = 20


def run(workload, trace, *extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        want = {m["name"]: m["unit"] for m in declared}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_end_to_end_metrics_printed_with_units(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w, 0)
                self.check_metrics(r, SPEC["end_to_end"])
                self.assertTrue(r["correct"])
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(r["failed"], 0)
                self.assertEqual(r["metrics"]["ok_share"]["value"], 1.0)
                for m in SPEC["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])

    def test_per_layer_metrics_printed_with_units(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w, 1)
                self.check_metrics(r, SPEC["per_layer"])
                self.assertEqual(r["failed"], 0)
                m = {k: v["value"] for k, v in r["metrics"].items()}
                self.assertGreater(m["spark.tasks"], 0)
                if w == "grow_cold":
                    self.assertEqual(m["sources.api_detail_calls"], TINY_RECORDS)
                    self.assertEqual(m["sources.cache_hit_ratio"], 0.0)
                if w == "grow_warm":
                    self.assertEqual(m["sources.api_detail_calls"], 0)
                    self.assertEqual(m["sources.cache_hit_ratio"], 1.0)
                if w == "curate":
                    self.assertGreater(m["ops.lsh_candidate_pairs"], 0)
                if w == "queries":
                    self.assertGreater(m["queries.jobs_per_query"], 0)

    def test_corrupted_expected_value_counts_as_failure(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w, 0, "--corrupt")
                self.assertFalse(r["correct"])
                self.assertGreater(r["failed"], 0)
                self.assertLess(r["metrics"]["ok_share"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
