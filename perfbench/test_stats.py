"""Tests of the benchmark's own arithmetic (python3 perfbench/run.py --selftest)."""

import statistics
import unittest

import stats


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        # 89 queries: 13 beyond p85, only 8 beyond p90
        self.assertEqual(stats.tail_percentile(89), 85)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_tail_value_and_small_samples(self):
        xs = list(range(1, 90))  # 1..89
        self.assertEqual(stats.tail(xs), (85, 76))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100, 3.0))

    def test_percentile_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 100), 5)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 1), 1)

    def test_median_matches_statistics(self):
        for xs in ([1.0], [2.0, 1.0], [3.0, 1.0, 2.0, 10.0], [5, 5, 1, 9, 7]):
            self.assertEqual(stats.median(xs), statistics.median(xs))


class Overhead(unittest.TestCase):
    def test_compares_only_the_operations_both_ran(self):
        traced = [[("a", 1.1), ("b", 2.2), ("c", 9.0)]]
        reference = [[("a", 1.0), ("b", 2.0)]]
        self.assertAlmostEqual(stats.overhead_share(traced, reference), 0.1)

    def test_no_common_operation(self):
        with self.assertRaises(ValueError):
            stats.overhead_share([[("a", 1.0)]], [[("b", 1.0)]])


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, a, b):
        return {"id": i, "parent": parent, "start": a, "end": b}

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 40), self.span(2, 0, 30, 60),   # overlap 30..40
                 self.span(3, 0, 90, 120)]                          # runs past the parent
        t = stats.self_times(spans)
        # children cover 10..60 and 90..100 inside the parent: 60 units
        self.assertAlmostEqual(t[0], 40)
        self.assertAlmostEqual(t[1], 30)
        self.assertAlmostEqual(t[3], 30)

    def test_grandchildren_belong_to_their_parent(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 2, 8), self.span(2, 1, 3, 5)]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t[0], 4)
        self.assertAlmostEqual(t[1], 4)
        self.assertAlmostEqual(t[2], 2)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 5), (5, 7), (1, 2)]), 7)
        self.assertEqual(stats.union_length([(0, 5), (8, 9)], 2, 8.5), 3.5)


class IdleCores(unittest.TestCase):
    def test_fully_busy_span(self):
        tasks = [(0, 10)] * 4
        self.assertAlmostEqual(stats.idle_core_share([((0, 10), tasks)], 4), 0.0)

    def test_half_the_cores_idle(self):
        self.assertAlmostEqual(stats.idle_core_share([((0, 10), [(0, 10), (0, 10)])], 4), 0.5)

    def test_tasks_clipped_to_their_span(self):
        # one task hangs 5 units over each edge of the span
        self.assertAlmostEqual(stats.idle_core_share([((10, 20), [(5, 25)])], 2), 0.5)

    def test_over_several_spans(self):
        spans = [((0, 10), [(0, 10)]), ((20, 30), [])]
        self.assertAlmostEqual(stats.idle_core_share(spans, 1), 0.5)

    def test_skew(self):
        self.assertAlmostEqual(stats.skew([1, 1, 1, 4]), 4.0)
        self.assertEqual(stats.skew([]), 1.0)


if __name__ == "__main__":
    unittest.main()
