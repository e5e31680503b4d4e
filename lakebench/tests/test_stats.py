"""Percentile rule: the highest percentile with at least 10 samples
beyond it."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_tail_percentile_ladder(self):
        self.assertEqual(run.tail_percentile(10000), 99.9)
        self.assertEqual(run.tail_percentile(1000), 99.0)
        self.assertEqual(run.tail_percentile(999), 95.0)
        self.assertEqual(run.tail_percentile(200), 95.0)
        self.assertEqual(run.tail_percentile(199), 90.0)
        self.assertEqual(run.tail_percentile(100), 90.0)
        self.assertEqual(run.tail_percentile(40), 75.0)
        self.assertEqual(run.tail_percentile(39), 50.0)
        self.assertEqual(run.tail_percentile(20), 50.0)
        self.assertIsNone(run.tail_percentile(19))
        self.assertIsNone(run.tail_percentile(0))

    def test_at_least_ten_beyond(self):
        for n in list(range(1, 400)) + [999, 1000, 1999, 2000, 9999, 10000]:
            p = run.tail_percentile(n)
            if p is not None:
                values = list(range(n))
                self.assertGreaterEqual(sum(v > run.percentile(values, p) for v in values), 10)

    def test_nearest_rank(self):
        v = [5, 1, 4, 2, 3]
        self.assertEqual(run.percentile(v, 50), 3)
        self.assertEqual(run.percentile(v, 100), 5)
        self.assertEqual(run.percentile(v, 1), 1)
        self.assertEqual(run.summary(list(range(1, 201))), (100, (95.0, 190)))
        self.assertEqual(run.summary([7.0]), (7.0, None))


if __name__ == "__main__":
    unittest.main()
