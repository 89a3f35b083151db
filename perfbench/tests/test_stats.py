"""Self-tests for the benchmark's statistics and its metric names.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import statistics
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402


class MedianAndQuartiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_the_standard_library(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles(xs)[1], stats.median(xs))

    def test_spread_is_interquartile_distance_over_median(self):
        xs = [10.0] * 7 + [9.0, 11.0, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([2.0, 2.0, 2.0, 2.0]), 0.0)


class TailPercentile(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.percentile([float(x) for x in range(1, 101)], 90), 90.0)

    def test_median_is_supported_from_twenty_samples(self):
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)

    def test_tail_is_an_observed_sample(self):
        xs = [0.1 * i for i in range(200)]
        self.assertIn(stats.percentile(xs, 90), xs)


class RegressionBound(unittest.TestCase):
    def test_lower_is_better(self):
        parent = [1.0, 1.0, 1.0]
        self.assertFalse(stats.regressed(parent, [1.1, 1.1, 1.1], "lower", 0.15))
        self.assertTrue(stats.regressed(parent, [1.2, 1.2, 1.2], "lower", 0.15))
        self.assertFalse(stats.regressed(parent, [0.5, 0.5, 0.5], "lower", 0.15))

    def test_higher_is_better(self):
        parent = [100.0, 100.0]
        self.assertFalse(stats.regressed(parent, [90.0, 90.0], "higher", 0.15))
        self.assertTrue(stats.regressed(parent, [80.0, 80.0], "higher", 0.15))
        self.assertFalse(stats.regressed(parent, [200.0, 200.0], "higher", 0.15))

    def test_bound_compares_medians(self):
        # one slow outlier does not move the median past the bound
        self.assertFalse(stats.regressed([1.0] * 5, [1.0] * 4 + [9.0], "lower", 0.1))

    def test_compare_reports_each_end_to_end_metric(self):
        spec = {"end_to_end": [{"name": "latency_p50_s", "better": "lower", "bound": 0.1}]}
        line = lambda v: {"metrics": {"latency_p50_s": {"value": v, "unit": "s"}}}
        rows = stats.compare(spec, [line(1.0), line(1.0)], [line(1.5), line(1.5)])
        self.assertEqual(rows[0][0], "latency_p50_s")
        self.assertTrue(rows[0][-1])


class MetricNames(unittest.TestCase):
    def test_pattern(self):
        for good in ("setup_s", "spark.task_cpu_s", "operators.q01.call_s", "a-b"):
            self.assertTrue(stats.valid_name(good), good)
        for bad in ("", "has space", "x/y", "_lead", ".lead", "a" * 65):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_benchmark_json_names(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        names = [w["name"] for w in spec["workloads"]]
        names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


if __name__ == "__main__":
    unittest.main()
