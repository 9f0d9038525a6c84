"""Tests of the benchmark's percentile, span and sampling math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import random
import statistics
import unittest

import stats


def span(id_, parent, start, end):
    return {"id": id_, "parent": parent, "start_ns": start, "end_ns": end}


class PercentileTest(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        rng = random.Random(7)
        for n in (2, 3, 10, 61):
            xs = [rng.random() for _ in range(n)]
            q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
            self.assertAlmostEqual(stats.percentile(xs, 25), q1)
            self.assertAlmostEqual(stats.percentile(xs, 50), q2)
            self.assertAlmostEqual(stats.percentile(xs, 75), q3)

    def test_ends_and_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)
        self.assertEqual(stats.median(xs), 2.5)

    def test_single_value(self):
        self.assertEqual(stats.percentile([5.0], 90), 5.0)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1.0], 101)


class SpanTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered((0, 100), [(10, 30), (20, 40), (90, 150)]), 40)
        self.assertEqual(stats.covered((0, 100), [(-5, 5), (200, 300)]), 5)
        self.assertEqual(stats.covered((0, 100), []), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 40), span(2, 0, 30, 70),
                 span(3, 2, 35, 45)]
        self_t = stats.self_times(spans)
        self.assertEqual(self_t[0], 30)   # 0..100 minus the union 0..70
        self.assertEqual(self_t[1], 40)   # leaf
        self.assertEqual(self_t[2], 30)   # 40 minus its child's 10
        self.assertEqual(self_t[3], 10)

    def test_coverage_of_roots(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 0, 50, 90),
                 span(3, -1, 200, 200)]
        cover = stats.coverage(spans)
        self.assertAlmostEqual(cover[0], 0.9)
        self.assertEqual(cover[3], 1.0)
        self.assertNotIn(1, cover)


class StratifiedPickTest(unittest.TestCase):
    def test_one_per_run_and_deterministic(self):
        items = [{"name": "q%02d" % i, "cost": i} for i in range(20)]
        key = lambda q: q["cost"]
        a = stats.stratified_pick(items, key, 5, random.Random(3))
        b = stats.stratified_pick(items, key, 5, random.Random(3))
        self.assertEqual(a, b)
        self.assertEqual([q["cost"] // 4 for q in a], [0, 1, 2, 3, 4])

    def test_rejects_bad_size(self):
        with self.assertRaises(ValueError):
            stats.stratified_pick([1, 2], lambda x: x, 3, random.Random(0))


if __name__ == "__main__":
    unittest.main()
