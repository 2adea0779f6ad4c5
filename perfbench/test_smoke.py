#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at tiny sizes, untraced and
traced, must pass all of its output checks and print every metric that
BENCHMARK.json names, with its unit.

Usage (from the root of a checkout): python3 perfbench/test_smoke.py
Takes a few minutes; it builds the program first if needed.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def bench(workload: str, trace: int) -> dict:
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--trace", str(trace), "--tiny"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-4000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def test_every_workload_checks_and_reports(self):
        for workload in run.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    res = bench(workload, trace)
                    self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
                    self.assertEqual({n: m["unit"] for n, m in res["metrics"].items()},
                                     {m["name"]: m["unit"] for m in wanted})
                    for m in SPEC["end_to_end"] if not trace else []:
                        self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_workloads_match_the_spec(self):
        self.assertTrue({w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main(verbosity=2)
