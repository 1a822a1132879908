import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


def span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start_ns": start, "end_ns": end}


class PercentileTest(unittest.TestCase):
    def test_harrell_davis(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.percentile(xs, 0.5), 50.5)
        self.assertAlmostEqual(stats.percentile([1, 2, 3], 0.5), 2.0)
        self.assertAlmostEqual(stats.percentile([3, 1, 2], 0.5), 2.0)
        self.assertAlmostEqual(stats.percentile(list(reversed(xs)), 0.9),
                               stats.percentile(xs, 0.9))
        self.assertAlmostEqual(stats.percentile([7.0], 0.9), 7.0)
        self.assertAlmostEqual(stats.percentile([4.0] * 14, 0.9), 4.0)
        p90 = stats.percentile(xs, 0.9)
        self.assertTrue(89 < p90 < 92, p90)
        self.assertTrue(stats.percentile(xs, 0.5) < p90 < max(xs))

    def test_beta_cdf(self):
        self.assertAlmostEqual(stats.beta_cdf(0.4, 2, 3), 0.5248)
        # Beta(1/2, 1/2) is the arcsine law
        self.assertAlmostEqual(stats.beta_cdf(0.3, 0.5, 0.5),
                               2 / math.pi * math.asin(math.sqrt(0.3)))
        self.assertAlmostEqual(stats.beta_cdf(0.2, 13.5, 1.5),
                               1 - stats.beta_cdf(0.8, 1.5, 13.5))
        self.assertEqual(stats.beta_cdf(0.0, 2, 3), 0.0)
        self.assertEqual(stats.beta_cdf(1.0, 2, 3), 1.0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_sample_count_rule(self):
        # p90 over 100 samples leaves exactly ten above it; 99 leave nine
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(99, 0.9), 9)
        self.assertEqual(stats.samples_needed(0.9, 10), 100)
        self.assertEqual(stats.samples_needed(0.5, 10), 20)
        for n in range(1, 300):
            self.assertEqual(stats.samples_beyond(n, 0.9) >= 10, n >= 100)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class SelfTimeTest(unittest.TestCase):
    def test_nested_self_time(self):
        spans = [span(1, -1, "harness", 0, 100),
                 span(2, 1, "operators", 10, 60),
                 span(3, 2, "scheduler", 20, 40)]
        self.assertEqual(stats.self_times(spans),
                         {"harness": 50 / 1e9, "operators": 30 / 1e9, "scheduler": 20 / 1e9})

    def test_parallel_children_count_once(self):
        spans = [span(1, -1, "scheduler", 0, 100),
                 span(2, 1, "executor", 10, 50),
                 span(3, 1, "executor", 30, 70)]
        self.assertAlmostEqual(stats.self_times(spans)["scheduler"], 40 / 1e9)
        self.assertAlmostEqual(stats.self_times(spans)["executor"], 80 / 1e9)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, -1, "operators", 0, 50), span(2, 1, "scheduler", 40, 90)]
        self.assertAlmostEqual(stats.self_times(spans)["operators"], 40 / 1e9)

    def test_self_times_sum_to_root_when_nested(self):
        spans = [span(1, -1, "harness", 0, 1000), span(2, 1, "operators", 100, 900),
                 span(3, 2, "scheduler", 200, 800), span(4, 3, "executor", 300, 400),
                 span(5, 3, "executor", 350, 700)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 1000 / 1e9)

    def test_unfinished_spans_are_skipped(self):
        spans = [span(1, -1, "harness", 0, 100), span(2, 1, "operators", 10, -1)]
        self.assertEqual(stats.self_times(spans), {"harness": 100 / 1e9})

    def test_descendants(self):
        spans = [span(1, -1, "harness", 0, 10), span(2, 1, "harness", 0, 5),
                 span(3, 2, "operators", 1, 2), span(4, 1, "harness", 5, 10)]
        self.assertEqual(sorted(s["id"] for s in stats.descendants(spans, [2])), [2, 3])

    def test_job_busy_is_the_union_of_jobs_under_the_root(self):
        spans = [span(1, -1, "harness", 0, 1000), span(2, 1, "operators", 0, 500),
                 span(3, 2, "scheduler", 100, 300), span(4, 2, "scheduler", 200, 400),
                 span(5, 3, "executor", 100, 300), span(6, -1, "harness", 1000, 2000),
                 span(7, 6, "scheduler", 1100, 1900), span(8, 1, "scheduler", 600, 600)]
        self.assertAlmostEqual(stats.job_busy_s(spans, 1), 300 / 1e9)
        self.assertAlmostEqual(stats.job_busy_s(spans, 6), 800 / 1e9)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30), (3, 3)]), 25)
        self.assertEqual(stats.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
