"""sf0.001 smoke run of every workload, untraced and traced, with three
operations per round: each run must be correct and print every metric
BENCHMARK.json names, with its unit. Builds graft on first use.

    python3 -m unittest perfbench/tests/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

SMOKE_SF = os.path.join(os.path.dirname(run.DEFAULT_SF), "sf0.001")


@unittest.skipUnless(os.path.isdir(SMOKE_SF), "needs the sf0.001 test data")
class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def check(self, workload, trace, metrics):
        out = subprocess.run(
            [sys.executable, os.path.join(run.HERE, "run.py"),
             "--workload", workload, "--seed", "1", "--seconds", "0",
             "--trace", str(trace), "--sf-dir", SMOKE_SF, "--ops", "3"],
            cwd=run.ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        res = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"], out.stderr[-2000:])
        self.assertGreaterEqual(res["attempted"], 3)
        self.assertEqual(res["failed"], 0)
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {m["name"]: m["unit"] for m in metrics})

    def test_workloads(self):
        for w in run.WORKLOADS + run.EXTRA_WORKLOADS:
            with self.subTest(workload=w, trace=0):
                self.check(w, 0, self.bench["end_to_end"])
            with self.subTest(workload=w, trace=1):
                self.check(w, 1, self.bench["per_layer"])


if __name__ == "__main__":
    unittest.main()
