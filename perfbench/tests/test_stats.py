"""Unit tests for the metric arithmetic: python3 -m unittest discover -s perfbench/tests"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_reported_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(sum(1 for x in xs if x > 90), 10)

    def test_withheld_with_nine_beyond(self):
        self.assertIsNone(stats.percentile(list(range(1, 100)), 0.9))
        self.assertIsNone(stats.percentile(list(range(1, 1000)), 0.99))

    def test_higher_percentile_needs_more_samples(self):
        self.assertEqual(stats.percentile(list(range(1, 1001)), 0.99), 990)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 40
        self.assertEqual(stats.percentile(xs, 0.5), stats.percentile(sorted(xs), 0.5))

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 0.9))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(0, 100, []), 100)

    def test_overlapping_children_count_once(self):
        # [10,30) and [20,40) overlap: together they cover 30, not 40
        self.assertEqual(stats.self_time(0, 100, [(10, 30), (20, 40)]), 70)

    def test_children_sticking_out_are_clipped(self):
        self.assertEqual(stats.self_time(0, 100, [(-20, 10), (90, 130)]), 80)

    def test_nested_and_disjoint_children(self):
        kids = [(10, 50), (20, 30), (60, 70), (65, 80)]
        self.assertEqual(stats.self_time(0, 100, kids), 100 - 40 - 20)

    def test_children_outside_do_not_count(self):
        self.assertEqual(stats.self_time(0, 100, [(100, 200), (-50, 0)]), 100)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time(0, 100, [(0, 60), (40, 100)]), 0)

    def test_span_tree_idle_time(self):
        spans = [
            {"id": 0, "parent": -1, "op": 1, "name": "op", "label": "", "start": 0, "end": 1_000_000, "c": {}},
            {"id": 1, "parent": 0, "op": 1, "name": "query", "label": "", "start": 0, "end": 1_000_000, "c": {}},
            {"id": 2, "parent": 1, "op": 1, "name": "spark.job", "label": "", "start": 100_000, "end": 900_000, "c": {}},
            {"id": 3, "parent": 2, "op": 1, "name": "spark.task", "label": "", "start": 200_000, "end": 600_000, "c": {}},
            {"id": 4, "parent": 2, "op": 1, "name": "spark.task", "label": "", "start": 500_000, "end": 700_000, "c": {}},
        ]
        tree = stats.SpanTree(spans)
        query = tree.by_id[1]
        self.assertAlmostEqual(tree.idle_seconds(query), 0.5)   # tasks cover 0.2-0.7 s
        self.assertAlmostEqual(tree.self_seconds(query), 0.2)   # the job covers 0.1-0.9 s
        self.assertAlmostEqual(tree.self_seconds(tree.by_id[2]), 0.3)
        self.assertEqual(len(tree.find(tree.roots()[0], "spark.task")), 2)


if __name__ == "__main__":
    unittest.main()
