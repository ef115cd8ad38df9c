import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def span(i, parent, name, a, b):
    return {"id": i, "parent": parent, "name": name, "start_ms": a, "end_ms": b, "counters": {}}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)

    def test_sample_count_rule(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertTrue(stats.tail_supported(100, 0.9))
        self.assertFalse(stats.tail_supported(99, 0.9))
        self.assertFalse(stats.tail_supported(12, 0.9))
        self.assertTrue(stats.tail_supported(100, 0.5))
        self.assertFalse(stats.tail_supported(100, 0.95))


class SpanTest(unittest.TestCase):
    # root [0, 100] with children [10, 40] and [50, 80] and a grandchild
    # [15, 20] inside the first child
    spans = [span(0, -1, "pipeline:ingest", 0, 100), span(1, 0, "sources:EhrCsv.readEhr", 10, 40),
             span(2, 0, "operators:TextQueries.mergeEntries", 50, 80),
             span(3, 1, "Tables:Tables.load", 15, 20)]

    def test_overlapping_children_are_not_counted_twice(self):
        spans = [span(0, -1, "pipeline:p", 0, 100), span(1, 0, "ml:a", 10, 40), span(2, 0, "ml:b", 30, 60)]
        self.assertEqual(stats.self_times(spans)[0], 50)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10)], 5, 8), 3)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time(self):
        st = stats.self_times(self.spans)
        self.assertEqual(st, {0: 40, 1: 25, 2: 30, 3: 5})

    def test_self_time_by_layer_sums_to_root(self):
        by = stats.self_by_layer(self.spans)
        self.assertEqual(by, {"pipeline": 40, "sources": 25, "operators": 30, "Tables": 5})
        self.assertEqual(sum(by.values()), 100)

    def test_driver_gap(self):
        jobs = [(3, 16, 19), (2, 55, 70), (-1, 0, 100)]
        self.assertEqual(stats.driver_gap(self.spans, jobs, self.spans[1]), 30 - 3)
        self.assertEqual(stats.driver_gap(self.spans, jobs, self.spans[0]), 100 - 18)


if __name__ == "__main__":
    unittest.main()
