"""Smoke run of every workload at sf0.001: the command succeeds, its
outputs check out, and it prints every metric BENCHMARK.json names.
Takes a few minutes (it builds on first use); PERFBENCH_SMOKE=0 skips it.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))


@unittest.skipIf(os.environ.get("PERFBENCH_SMOKE") == "0", "PERFBENCH_SMOKE=0")
class Smoke(unittest.TestCase):
    def test_every_workload_at_sf0_001(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in bench[key]}
            for w in bench["workloads"]:
                with self.subTest(workload=w["name"], trace=trace):
                    p = subprocess.run(
                        [sys.executable, "perfbench/run.py", "--workload", w["name"], "--seed", "7",
                         "--seconds", str(bench["run_seconds"]), "--trace", str(trace), "--scale", "sf0.001"],
                        cwd=ROOT, capture_output=True, text=True, timeout=900)
                    self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                    result = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)


if __name__ == "__main__":
    unittest.main()
