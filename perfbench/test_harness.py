"""Tests for the benchmark harness: percentile selection, metric-name
validation, the result line and the comparison verdicts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import tempfile
import unittest
from pathlib import Path

import harness

SPEC = {
    "workloads": [{"name": "w", "why": "test"}],
    "end_to_end": [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "op_s_p50", "unit": "s", "better": "lower", "bound": 0.2},
        {"name": "rows_per_s", "unit": "1/s", "better": "higher", "bound": 0.2},
        {"name": "heap_mb_peak", "unit": "MB", "better": "lower", "bound": 0.2},
        {"name": "quant_error", "unit": "l2", "better": "lower", "bound": 0.05},
    ],
    "per_layer": [{"name": "spark.jobs_per_op", "unit": "count", "better": "lower"}],
}

RAW = {
    "attempted": 4, "failed": 0, "setup_s": [3.0, 1.0, 2.0],
    "op_s": {"fit": [0.5, 0.7, 0.6, 0.9]}, "rows": 1000.0, "rows_wall_s": 2.7,
    "heap_mb_peak": 80.5, "quant_error": 3.9,
    "per_layer": {"spark.jobs_per_op": 12.0},
}


class PercentileTest(unittest.TestCase):
    def test_no_tail_below_a_hundred_samples(self):
        self.assertIsNone(harness.tail_percentile(0))
        self.assertIsNone(harness.tail_percentile(99))

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertEqual(harness.tail_percentile(100), 90.0)
        self.assertEqual(harness.tail_percentile(999), 90.0)
        self.assertEqual(harness.tail_percentile(1000), 99.0)
        self.assertEqual(harness.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(harness.nearest_rank(xs, 90), 90)
        self.assertEqual(harness.nearest_rank(xs, 50), 50)
        self.assertEqual(harness.nearest_rank([5.0], 90), 5.0)

    def test_summary_reports_p90_only_with_enough_samples(self):
        self.assertEqual(set(harness.timing_summary([1.0] * 99)), {"p50", "n"})
        s = harness.timing_summary([float(i) for i in range(100)])
        self.assertEqual(s["p90"], 89.0)
        self.assertEqual(s["p50"], 49.5)

    def test_op_p50_is_the_geometric_mean_of_per_kind_medians(self):
        self.assertAlmostEqual(harness.op_p50({"a": [3.0, 1.0, 2.0]}), 2.0)
        self.assertAlmostEqual(harness.op_p50({"a": [1.0, 1.0], "b": [4.0, 4.0, 5.0]}), 2.0)

    def test_quartiles_match_statistics(self):
        q1, q2, q3 = harness.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((q1, q2, q3), (1.5, 3.0, 4.5))
        self.assertAlmostEqual(harness.spread([1.0, 2.0, 3.0, 4.0, 5.0]), 1.0)


class NameTest(unittest.TestCase):
    def test_valid(self):
        for n in ("setup_s", "spark.jobs_per_op", "som.kernel.epoch_s", "p50-x", "9a"):
            self.assertTrue(harness.valid_name(n), n)

    def test_invalid(self):
        for n in ("", "_x", ".x", "a b", "a/b", "a:b", "é", "x" * 65, None, 3):
            self.assertFalse(harness.valid_name(n), n)

    def test_spec_rejects_bad_and_duplicate_names(self):
        for bad in ("a b", "setup_s"):
            spec = json.loads(json.dumps(SPEC))
            spec["per_layer"].append({"name": bad, "unit": "s", "better": "lower"})
            with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
                json.dump(spec, f)
            with self.assertRaises(ValueError):
                harness.load_spec(f.name)
            Path(f.name).unlink()

    def test_repository_spec_is_valid(self):
        spec = harness.load_spec(Path(__file__).resolve().parent.parent / "BENCHMARK.json")
        self.assertGreaterEqual(len(spec["workloads"]), 2)


class ResultTest(unittest.TestCase):
    def test_end_to_end_line(self):
        line = harness.result_line(harness.result(RAW, SPEC, 0))
        self.assertNotIn("\n", line)
        r = json.loads(line)
        self.assertEqual(list(r), ["correct", "attempted", "failed", "metrics"])
        self.assertIs(r["correct"], True)
        self.assertEqual(set(r["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
        self.assertEqual(r["metrics"]["setup_s"], {"value": 2.0, "unit": "s"})
        self.assertAlmostEqual(r["metrics"]["op_s_p50"]["value"], 0.65)
        self.assertAlmostEqual(r["metrics"]["rows_per_s"]["value"], 1000 / 2.7)

    def test_traced_line_has_per_layer_metrics(self):
        r = json.loads(harness.result_line(harness.result(RAW, SPEC, 1)))
        self.assertEqual(r["metrics"], {"spark.jobs_per_op": {"value": 12.0, "unit": "count"}})

    def test_failures_make_the_run_incorrect(self):
        r = harness.result(dict(RAW, failed=1), SPEC, 0)
        self.assertEqual((r["correct"], r["failed"]), (False, 1))

    def test_rejects_missing_undeclared_and_non_finite(self):
        for bad in ({"heap_mb_peak": 0.0}, {"quant_error": float("nan")}):
            with self.assertRaises(ValueError):
                harness.result(dict(RAW, **bad), SPEC, 0)
        with self.assertRaises(ValueError):
            harness.result(dict(RAW, per_layer={}), SPEC, 1)
        with self.assertRaises(ValueError):
            harness.result(dict(RAW, per_layer={"spark.jobs_per_op": 1.0, "x": 2.0}), SPEC, 1)
        with self.assertRaises(ValueError):
            harness.result(dict(RAW, attempted=0), SPEC, 0)


class VerdictTest(unittest.TestCase):
    base = [1.00, 1.02, 0.98, 1.01, 0.99, 1.00, 1.03, 0.97, 1.01, 0.99]

    def test_better_needs_nine_tenths_of_pairs_and_a_gap_beyond_the_spread(self):
        change = [x * 0.8 for x in self.base]
        self.assertEqual(harness.verdict(self.base, change, "lower", 0.2), "better")
        self.assertEqual(harness.verdict(self.base, change, "higher", 0.1), "worse")

    def test_within_bound_is_unchanged(self):
        change = [x * 1.05 for x in self.base]
        self.assertEqual(harness.verdict(self.base, change, "lower", 0.2), "unchanged")

    def test_noisy_parent_is_unresolved(self):
        base = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
        change = [1.5, 1.4, 1.6, 1.5, 1.4, 1.6]
        self.assertEqual(harness.verdict(base, change, "lower", 0.1), "unresolved")

    def test_counts_without_bound(self):
        self.assertEqual(harness.verdict([12.0] * 5, [12.0] * 5, "lower"), "unchanged")
        self.assertEqual(harness.verdict([12.0] * 5, [11.0] * 5, "lower"), "better")
        self.assertEqual(harness.verdict([12.0] * 5, [13.0] * 5, "lower"), "worse")


if __name__ == "__main__":
    unittest.main()
