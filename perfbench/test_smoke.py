#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload on tiny inputs, untraced
and traced, must print every metric BENCHMARK.json names, with its unit,
and fail no operation.

    python3 -m unittest perfbench/test_smoke.py     # from the checkout root

Takes about four minutes (four short JVM runs plus the first build).
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
WORKLOADS = ("daily_trickle", "query_mix")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace):
    r = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited "
                             f"{r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stderr


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace, metrics):
        result, log = run(workload, trace)
        self.assertEqual(set(result),
                         {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], log[-3000:])
        self.assertEqual(result["failed"], 0, log[-3000:])
        self.assertGreaterEqual(result["attempted"], 1)
        got = result["metrics"]
        for m in metrics:
            self.assertIn(m["name"], got)
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], float, m["name"])
        self.assertEqual(set(got), {m["name"] for m in metrics})
        return got

    def test_every_workload(self):
        s = spec()
        self.assertEqual({w["name"] for w in s["workloads"]}, set(WORKLOADS))
        for w in WORKLOADS:
            with self.subTest(workload=w):
                e2e = self.check(w, 0, s["end_to_end"])
                for m in s["end_to_end"]:
                    self.assertGreater(e2e[m["name"]]["value"], 0, m["name"])
                self.check(w, 1, s["per_layer"])


if __name__ == "__main__":
    unittest.main()
