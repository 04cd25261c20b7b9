"""The benchmark's own tests: every workload at its tiny smoke size, untraced
and traced. Each run must exit 0, pass every check, and print every metric
that BENCHMARK.json names, with that metric's unit.

    python3 perfbench/test_smoke.py

Run from the root of a checkout. The backfill_whale smoke input keeps one
full-size whale, because the engine's default hot threshold is what that
workload checks against; expect a few minutes in all.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        code, out, err = run(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        self.assertTrue(out["correct"], err[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])


def _add(workload, trace):
    setattr(Smoke, f"test_{workload}_trace{trace}",
            lambda self: self.check(workload, trace))


for w in SPEC["workloads"]:
    for t in (0, 1):
        _add(w["name"], t)


if __name__ == "__main__":
    unittest.main(verbosity=2)
