#!/usr/bin/env python3
"""Smoke runs of the benchmark at sf0.001.

Run from the repository root:  python3 perfbench/test_smoke.py

Each workload runs briefly, untraced and traced. A run must print every
metric BENCHMARK.json names for its mode, each with its unit, report
failed_share 0 and end in a result line with no failures.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "sf0.001"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    printed = {}
    for line in lines[:-1]:
        parts = line.split(" ")
        if len(parts) == 3:
            printed[parts[0]] = (float(parts[1]), parts[2])
    return printed, json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        printed, result = run(workload, trace)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        for m in wanted:
            self.assertIn(m["name"], printed, f"{m['name']} not printed")
            self.assertEqual(printed[m["name"]][1], m["unit"], f"{m['name']} unit")
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(printed["failed_share"], (0.0, "fraction"))
        self.assertEqual(result["failed"], 0)
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        return printed

    def test_ingest(self):
        self.check("ingest", 0)

    def test_batch(self):
        self.check("batch", 0)

    def test_serve(self):
        printed = self.check("serve", 0)
        for op in ("search", "lookup", "bm25", "knn"):
            self.assertIn(f"{op}_p50_ms", printed)

    def test_traced(self):
        printed = self.check("ingest", 1)
        self.assertEqual(printed["rig.scratch_dirs_left"][0], 0)
        for name, (value, _) in printed.items():
            if name.endswith("driver_gap_ms") or name.endswith("driver_gap_s"):
                self.assertGreaterEqual(value, 0, name)


if __name__ == "__main__":
    unittest.main()
