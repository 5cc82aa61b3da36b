"""Tests for the metric helpers: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly ten above it
        q, v = stats.tail(list(range(1, 101)))
        self.assertEqual((q, v), (0.90, 90))
        # 99 samples: p90 leaves nine, so p75 (25 above) is reported
        q, v = stats.tail(list(range(1, 100)))
        self.assertEqual((q, v), (0.75, 75))
        # 40 samples: p75 leaves ten
        self.assertEqual(stats.tail(list(range(1, 41)))[0], 0.75)
        # 20 samples: only the median leaves ten above it
        self.assertEqual(stats.tail(list(range(1, 21))), (0.50, 10))

    def test_too_few_samples_support_nothing(self):
        self.assertEqual(stats.tail(list(range(19))), (None, None))
        self.assertEqual(stats.tail([]), (None, None))

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 8
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 0.5), 2)
        self.assertEqual(stats.percentile([7], 0.9), 7)


class FreshnessTest(unittest.TestCase):
    files = [{"due_ms": 1000 * i, "landed_ms": 1000 * i + 5, "rows": 10} for i in range(5)]

    def test_each_file_is_readable_when_its_batch_ends(self):
        # batch one takes files 0-1, batch two files 2-4
        progress = [{"end_ms": 1500, "rows": 20}, {"end_ms": 5200, "rows": 30}]
        self.assertEqual(stats.freshness(self.files, progress),
                         [1500, 500, 3200, 2200, 1200])

    def test_progress_order_is_by_time(self):
        progress = [{"end_ms": 5200, "rows": 30}, {"end_ms": 1500, "rows": 20}]
        self.assertEqual(stats.freshness(self.files, progress)[:2], [1500, 500])

    def test_untaken_files_are_left_out(self):
        progress = [{"end_ms": 2500, "rows": 30}]
        self.assertEqual(stats.freshness(self.files, progress), [2500, 1500, 500])

    def test_backlog(self):
        progress = [{"end_ms": 1500, "rows": 20}, {"end_ms": 5200, "rows": 30}]
        # at 1500 two files landed, two taken; at 5200 five landed, five taken
        self.assertEqual(stats.backlog_max(self.files, progress), 0)
        late = [{"end_ms": 4500, "rows": 10}, {"end_ms": 6000, "rows": 40}]
        # at 4500 five landed, one taken
        self.assertEqual(stats.backlog_max(self.files, late), 4)


class HelperTest(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)], 2, 25), 18)
        self.assertEqual(stats.union_ms([], 0, 10), 0)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean(iter([4.0, 4.0, 4.0])), 4.0)

    def test_theil_sen_follows_a_trend_and_ignores_an_outlier(self):
        line = [(x, 10 + 2 * x) for x in range(10)]
        self.assertAlmostEqual(stats.theil_sen_at(line, 4.5), 19)
        line[3] = (3, 500)
        self.assertAlmostEqual(stats.theil_sen_at(line, 4.5), 19)
        # no trend: the level of the samples, one outlier ignored
        self.assertAlmostEqual(stats.theil_sen_at([(0, 6), (1, 6), (2, 60), (3, 6)], 1), 6)

if __name__ == "__main__":
    unittest.main()
