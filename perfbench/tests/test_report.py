"""Statistics of the benchmark report: percentiles, self time, attribution.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import report  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def span(id, parent, start, end, name="x", trace=1):
    return {"id": id, "parent": parent, "trace": trace, "name": name,
            "start_ns": start, "end_ns": end}


class PercentileTest(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        xs = [7.0, 1.0, 3.0, 9.0, 4.0, 12.5, 2.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(report.percentile(xs, 25), q1)
        self.assertAlmostEqual(report.median(xs), q2)
        self.assertAlmostEqual(report.percentile(xs, 75), q3)

    def test_ends_and_interpolation(self):
        xs = list(range(1, 11))
        self.assertEqual(report.percentile(xs, 0), 1)
        self.assertEqual(report.percentile(xs, 100), 10)
        self.assertAlmostEqual(report.percentile(xs, 90), 9.1)
        self.assertEqual(report.median([5.0]), 5.0)

    def test_no_values(self):
        with self.assertRaises(ValueError):
            report.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 1, 60, 70), span(5, 3, 25, 45)]
        selfs = report.self_times(spans)
        # children of 1 cover [10,50] and [60,70]: 50 of its 100
        self.assertEqual(selfs[1], 50)
        self.assertEqual(selfs[2], 20)
        self.assertEqual(selfs[3], 10)
        self.assertEqual(selfs[5], 20)
        self.assertEqual(selfs[4], 10)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 5, 20)]
        self.assertEqual(report.self_times(spans)[1], 5)

    def test_covered(self):
        self.assertEqual(report.covered([(0, 5), (3, 8), (10, 12)], 0, 11), 9)
        self.assertEqual(report.covered([], 0, 11), 0)


def fake_raw(trace):
    """Two untraced ops; with trace, two traced ops with layer spans."""
    ops = [
        {"start_ns": 0, "end_ns": 2_000_000_000, "cpu_ns": 1, "traced": False, "failures": []},
        {"start_ns": 2_000_000_000, "end_ns": 5_000_000_000, "cpu_ns": 1,
         "traced": bool(trace), "failures": ["pair_digest"]},
        {"start_ns": 5_000_000_000, "end_ns": 6_000_000_000, "cpu_ns": 1, "traced": False, "failures": []},
    ]
    spans = []
    spark = {}
    if trace:
        spans = [span(1, 0, 0, 1000, "er_batch.job"),
                 span(2, 1, 0, 600, "operators.blocking"),
                 span(3, 1, 600, 1000, "clustering.cc"),
                 span(4, 0, 2000, 2100, "functions.jaro_winkler", trace=-1)]
        spark = {"2": {"jobs": 3, "tasks": 12, "shuffle_write_bytes": 2e6, "spill_bytes": 0,
                       "cpu_ns": 1_200, "run_ms": 0, "gc_ms": 0,
                       "stages": [[50, 40, 10], [80, 30, 10]]},
                 "3": {"jobs": 1, "tasks": 4, "shuffle_write_bytes": 0, "spill_bytes": 0,
                       "cpu_ns": 0, "run_ms": 0, "gc_ms": 0, "stages": []}}
    return {"workload": "er_batch", "seed": 1, "scale": "tiny", "cores": 4, "clients": 1,
            "trace": bool(trace),
            "setup": {"session_s": 1.0, "prep_s": [3.0, 0.5, 0.7], "warmup_s": 2.0},
            "warmup": [[]], "ops": ops, "errors": [], "spans": spans, "spark": spark,
            "kernels": {"jaro_winkler": {"rows": 10, "units": 2.0, "seconds": [1.0, 4.0, 2.0]}},
            "counts": {"operators.candidate_pairs": 7}, "peak_rss_mb": 100.5}


class SummaryTest(unittest.TestCase):
    def test_end_to_end(self):
        units = {n: u for n, u, _ in report.END_TO_END}
        s = report.summarise(fake_raw(0), units)
        self.assertEqual((s["attempted"], s["failed"], s["correct"]), (4, 1, False))
        m = s["metrics"]
        self.assertEqual(set(m), set(units))
        self.assertAlmostEqual(m["setup_s"]["value"], 1.0 + 0.7 + 2.0)
        self.assertAlmostEqual(m["op_p50_ms"]["value"], 2000.0)
        self.assertAlmostEqual(m["op_per_s"]["value"], 3 / 6.0)
        self.assertEqual(m["peak_rss_mb"], {"value": 100.5, "unit": "MB"})

    def test_per_layer(self):
        units = {n: u for n, u, _ in report.per_layer_catalogue()}
        m = {k: v["value"] for k, v in report.summarise(fake_raw(1), units)["metrics"].items()}
        self.assertEqual(set(m), set(units))
        self.assertAlmostEqual(m["operators.blocking_frac"], 0.6)
        self.assertAlmostEqual(m["clustering.self_frac"], 0.4)
        self.assertAlmostEqual(m["trace.glue_frac"], 0.0)
        self.assertAlmostEqual(m["trace.op_ms"], 3000.0)
        self.assertAlmostEqual(m["trace.untraced_op_ms"], 1500.0)
        self.assertAlmostEqual(m["trace.overhead_frac"], 1.0)
        self.assertEqual(m["linker.jobs_per_req"], 4)
        self.assertEqual(m["operators.spark.tasks"], 12)
        self.assertAlmostEqual(m["operators.spark.shuffle_write_mb"], 2.0)
        # slowest stage of the only traced op: wall 80, max 30, median 10
        self.assertAlmostEqual(m["operators.spark.straggler_ratio"], 3.0)
        self.assertAlmostEqual(m["functions.jaro_winkler_mpairs_s"], 1.0)
        self.assertEqual(m["functions.window_hashes_mb_s"], 0.0)
        self.assertEqual(m["operators.candidate_pairs"], 7.0)


class BenchmarkFileTest(unittest.TestCase):
    def test_declares_exactly_what_the_report_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         list(report.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         report.per_layer_catalogue())
        for m in bench["end_to_end"]:
            self.assertTrue(0 < m["bound"] <= 0.25)
        setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
