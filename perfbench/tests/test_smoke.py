"""Tiny-size runs of every workload: each prints every metric BENCHMARK.json
names, with its unit, and a deliberately broken check shows up as failures.
Builds the harness on first use, so the first test can take minutes.

    python3 -m unittest discover -s perfbench/tests -p test_smoke.py
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError("%s exited %d:\n%s" % (cmd, out.returncode, out.stderr[-3000:]))
    return json.loads(out.stdout.strip().splitlines()[-1])


@unittest.skipIf(shutil.which("java") is None, "needs a JVM")
class SmokeTest(unittest.TestCase):
    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_workloads(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                plain = run(w["name"], 0)
                self.check_metrics(plain, BENCH["end_to_end"])
                self.assertTrue(plain["correct"])
                self.assertEqual(plain["failed"], 0)
                self.assertGreaterEqual(plain["attempted"], 1)
                for m in BENCH["end_to_end"]:
                    self.assertGreater(plain["metrics"][m["name"]]["value"], 0)

                traced = run(w["name"], 1)
                self.check_metrics(traced, BENCH["per_layer"])
                self.assertTrue(traced["correct"])

                broken = run(w["name"], 0, "--inject-fault")
                self.assertFalse(broken["correct"])
                self.assertGreater(broken["failed"], 0)

    def test_serving_workload_outside_the_benchmark_still_runs(self):
        result = run("er_serve", 0)
        self.assertTrue(result["correct"])
        self.assertGreater(result["attempted"], 1)


if __name__ == "__main__":
    unittest.main()
