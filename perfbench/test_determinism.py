#!/usr/bin/env python3
"""Determinism self-test of the benchmark.

Run from the root of a checkout:

    python3 perfbench/test_determinism.py

For each workload it runs the traced benchmark twice with one seed and once
with another, then checks that
  - the same seed gives the same input digest, and another seed another one;
  - the counters a later change may rest a claim on repeat exactly:
    operators.snapshot.jobs_per_table, functions.cc_rounds and
    functions.candidate_pairs.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

EXACT = {
    "cdc": [],
    "curation_dedup": ["operators.snapshot.jobs_per_table",
                       "functions.cc_rounds", "functions.candidate_pairs"],
}


def run(workload, seed):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, f"{workload} seed {seed} failed:\n{p.stdout}\n{p.stderr[-4000:]}"
    digest = next(l.split("=", 1)[1] for l in lines if l.startswith("input_digest="))
    return digest, json.loads(lines[-1])


class Determinism(unittest.TestCase):
    def check(self, workload):
        d1, r1 = run(workload, 7)
        d2, r2 = run(workload, 7)
        d3, _ = run(workload, 8)
        self.assertTrue(r1["correct"] and r2["correct"])
        self.assertEqual(d1, d2, "same seed, different inputs")
        self.assertNotEqual(d1, d3, "different seeds, same inputs")
        for k in EXACT[workload]:
            self.assertEqual(r1["metrics"][k]["value"], r2["metrics"][k]["value"], k)
            self.assertGreater(r1["metrics"][k]["value"], 0, k)

    def test_cdc(self):
        self.check("cdc")

    def test_curation_dedup(self):
        self.check("curation_dedup")


if __name__ == "__main__":
    unittest.main()
