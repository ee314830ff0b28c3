#!/usr/bin/env python3
"""Tests of the benchmark itself, on tiny inputs. Run from the repository
root (about nine minutes on 4 cores):

    python3 -m unittest perfbench/test_perfbench.py

- every workload's untraced run emits every end-to-end metric of
  BENCHMARK.json with its unit, and is correct;
- a traced run emits every per-layer metric with its unit;
- a planted wrong result (one dropped match row, one dropped arc, one
  truncated geometry response, one dropped query row) is reported as a
  failure;
- a new seed changes the generated inputs, and the closed-form topology
  counts still hold under it.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["pip_tile", "topo_build", "serve", "query_suite"]
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, seed, trace=0, plant=False):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--tiny"] + (["--plant"] if plant else [])
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=900)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}"
    result = json.loads(out.stdout.strip().splitlines()[-1])
    raw_name = f"{workload}-seed{seed}-trace{trace}-tiny{'-plant' if plant else ''}.json"
    with open(os.path.join(ROOT, ".bench_build", "results", raw_name)) as fh:
        return result, json.load(fh)


class PerfbenchTest(unittest.TestCase):
    untraced = {}

    @classmethod
    def setUpClass(cls):
        for w in WORKLOADS:
            cls.untraced[w] = run(w, seed=1)

    def check_metrics(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        for m in spec:
            self.assertIn(m["name"], result["metrics"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], (int, float), m["name"])

    def test_every_workload_emits_every_end_to_end_metric(self):
        for w in WORKLOADS:
            result, _ = self.untraced[w]
            self.check_metrics(result, SPEC["end_to_end"])
            self.assertTrue(result["correct"], w)
            self.assertEqual(result["failed"], 0, w)

    def test_traced_run_emits_every_per_layer_metric_and_new_seed_keeps_closed_forms(self):
        result, raw = run("pip_tile", seed=2, trace=1)
        self.check_metrics(result, SPEC["per_layer"])
        # topo_build ran its closed-form checks under seed 2 as well
        self.assertTrue(result["correct"])
        self.assertTrue(raw["spans"])
        for w in WORKLOADS:
            self.assertNotEqual(raw["runs"][w]["inputs_digest"],
                                self.untraced[w][1]["runs"][w]["inputs_digest"], w)

    def test_planted_wrong_result_is_a_failure(self):
        for w in WORKLOADS:
            result, _ = run(w, seed=1, plant=True)
            self.assertFalse(result["correct"], w)
            self.assertGreaterEqual(result["failed"], 1, w)


if __name__ == "__main__":
    unittest.main()
