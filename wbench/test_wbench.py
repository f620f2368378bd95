#!/usr/bin/env python3
"""The benchmark's own test, at smoke sizes.

For every workload in BENCHMARK.json it checks that an untraced run prints
every end-to-end metric with its unit and no failed operation, and that a
traced run with one planted wrong expected answer prints every per-layer
metric with its unit and counts that answer as a failed operation.

Usage (from the repository root): python3 wbench/test_wbench.py
"""
import json
import math
import pathlib
import subprocess
import sys
import unittest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, *extra):
    cmd = [sys.executable, "wbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--smoke", *extra]
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    assert done.returncode == 0, f"{cmd} exited {done.returncode}"
    return json.loads(done.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check_metrics(self, result, wanted):
        self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in wanted))
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_workloads(self):
        for w in (x["name"] for x in SPEC["workloads"]):
            with self.subTest(workload=w):
                r = run(w, 0)
                self.assertTrue(r["correct"])
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(r["failed"], 0)
                self.check_metrics(r, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])

                planted = run(w, 1, "--plant-wrong")
                self.assertFalse(planted["correct"])
                self.assertGreaterEqual(planted["failed"], 1)
                self.check_metrics(planted, SPEC["per_layer"])


if __name__ == "__main__":
    unittest.main()
