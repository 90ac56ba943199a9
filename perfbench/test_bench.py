#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_bench.py

- a short sf0.001 smoke run of every workload, untraced and traced, prints
  every metric BENCHMARK.json names, with its unit, and checks its outputs;
- a deliberately wrong expected value is counted as a failed op (and makes
  the run incorrect), not as a timing.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402


def smoke(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "4", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def assert_complete(self, out: dict, section: str) -> None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], out)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        for m in spec[section]:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_every_workload_prints_every_metric(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w, trace=0):
                self.assert_complete(smoke(w, 0), "end_to_end")
            with self.subTest(workload=w, trace=1):
                self.assert_complete(smoke(w, 1), "per_layer")


class WrongExpectationTest(unittest.TestCase):
    """check() on a hand-made run: one right output, one wrong, one bad status."""

    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench_test_")
        self.data = run.data("0.001")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def write(self, rows):
        with open(os.path.join(self.dir, "checks.jsonl"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def test_wrong_value_is_a_failure(self):
        body = json.dumps({"columns": ["n"], "dtypes": {"n": "int64"}, "data": [[5]]})
        oracle_right = "SELECT count(*) AS n FROM region"
        oracle_wrong = "SELECT count(*) + 1 AS n FROM region"
        self.write([
            {"key": "right", "kind": "query", "status": 200, "digest": "d1", "expect_status": 200,
             "oracle": oracle_right, "body": body},
            {"key": "wrong", "kind": "query", "status": 200, "digest": "d1", "expect_status": 200,
             "oracle": oracle_wrong, "body": body},
            {"key": "status", "kind": "dryrun", "status": 500, "digest": "d2", "expect_status": 204,
             "oracle": None, "body": "boom"},
            {"count_of": "right", "status": 200, "digest": "d1", "count": 4},
            {"count_of": "wrong", "status": 200, "digest": "d1", "count": 3},
            {"count_of": "status", "status": 500, "digest": "d2", "count": 2},
        ])
        failed, reasons, distinct = run.check(self.dir, self.data, {"transport_failed": 1})
        self.assertEqual(distinct, 3)
        self.assertEqual(failed, 3 + 2 + 1)
        self.assertEqual(len(reasons), 2)

    def test_wrong_type_is_a_failure(self):
        body = json.dumps({"columns": ["n"], "dtypes": {"n": "int32"}, "data": [[5]]})
        self.write([
            {"key": "k", "kind": "query", "status": 200, "digest": "d", "expect_status": 200,
             "oracle": "SELECT count(*) AS n FROM region", "body": body},
            {"count_of": "k", "status": 200, "digest": "d", "count": 1},
        ])
        failed, _, _ = run.check(self.dir, self.data, {"transport_failed": 0})
        self.assertEqual(failed, 1)


if __name__ == "__main__":
    unittest.main(verbosity=2)
