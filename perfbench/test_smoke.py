#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny size, untraced and
traced. Asserts that the run exits 0, that every metric BENCHMARK.json
declares prints (both in the `name value unit` lines and in the final JSON)
with its unit, and that every output check passes.

    python3 perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAGES = "600"

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class Smoke(unittest.TestCase):
    def run_bench(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", str(trace), "--pages", PAGES],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], r.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        printed = {}
        for line in lines[:-1]:
            parts = line.split()
            if len(parts) == 3:
                printed[parts[0]] = parts[2]
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {d["name"] for d in declared})
        for d in declared:
            self.assertEqual(result["metrics"][d["name"]]["unit"], d["unit"], d["name"])
            self.assertEqual(printed.get(d["name"]), d["unit"], d["name"])
        if not trace:
            self.assertEqual(printed.get("error_rate"), "ratio")


# the listed workloads and the two runnable by hand (see README.md)
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["er_rethreshold_resume", "er_two_table_staged"]


def add_cases():
    for w in WORKLOADS:
        for trace in (0, 1):
            name = "test_%s_trace%d" % (w, trace)
            setattr(Smoke, name, lambda self, w=w, t=trace: self.run_bench(w, t))


add_cases()

if __name__ == "__main__":
    unittest.main()
