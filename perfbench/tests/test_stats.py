"""Tests of the benchmark's statistics and output checks.

Run: python3 -m unittest discover -s perfbench/tests
"""
import datetime
import decimal
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7.5]), 7.5)

    def test_order_does_not_matter(self):
        xs = [random.Random(i).random() for i in range(101)]
        ys = list(xs)
        random.Random(7).shuffle(ys)
        self.assertEqual(stats.median(xs), stats.median(ys))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_highest_such_percentile(self):
        xs = list(range(1000))
        value, pct, _ = stats.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 99.0)

    def test_small_sample_reports_the_maximum(self):
        for n in (1, 10, 20):
            xs = [float(i) for i in range(n)]
            value, pct, m = stats.tail(xs)
            self.assertEqual((value, pct, m), (float(n - 1), 100.0, n))

    def test_never_below_the_median(self):
        for n in range(1, 200):
            xs = list(range(n))
            self.assertGreaterEqual(stats.tail(xs)[0], stats.median(xs))

    def test_custom_beyond(self):
        value, _, _ = stats.tail(list(range(50)), beyond=5)
        self.assertEqual(value, 44)


class FailureCountingTest(unittest.TestCase):
    def test_only_true_passes(self):
        self.assertEqual(stats.count_failures([True, False, None, "error", True]), (5, 3))

    def test_error_rate(self):
        self.assertEqual(stats.error_rate(40, 0), 0.0)
        self.assertEqual(stats.error_rate(40, 10), 0.25)

    def test_error_rate_rejects_bad_counts(self):
        for attempted, failed in ((0, 0), (3, 4), (3, -1)):
            with self.assertRaises(ValueError):
                stats.error_rate(attempted, failed)


class FingerprintTest(unittest.TestCase):
    COLS = ["doc_id", "text", "score", "ts"]

    def rows(self):
        r = random.Random(3)
        t0 = datetime.datetime(2024, 1, 1)
        return [(i, f"doc {r.randint(0, 50)}", r.random(), t0 + datetime.timedelta(seconds=i))
                for i in range(300)]

    def test_stable_under_row_permutation(self):
        rows = self.rows()
        want = stats.fingerprint(self.COLS, rows)
        for seed in range(5):
            shuffled = list(rows)
            random.Random(seed).shuffle(shuffled)
            self.assertEqual(stats.fingerprint(self.COLS, shuffled), want)

    def test_stable_under_column_order(self):
        rows = self.rows()
        perm = [2, 0, 3, 1]
        cols = [self.COLS[i] for i in perm]
        moved = [tuple(r[i] for i in perm) for r in rows]
        self.assertEqual(stats.fingerprint(cols, moved), stats.fingerprint(self.COLS, rows))

    def test_detects_a_changed_cell_a_lost_row_and_a_duplicate(self):
        rows = self.rows()
        want = stats.fingerprint(self.COLS, rows)
        changed = list(rows)
        changed[17] = (17, "other", changed[17][2], changed[17][3])
        self.assertNotEqual(stats.fingerprint(self.COLS, changed), want)
        self.assertNotEqual(stats.fingerprint(self.COLS, rows[1:]), want)
        dup = rows[:-1] + [rows[0]]
        self.assertEqual(len(dup), len(rows))
        self.assertNotEqual(stats.fingerprint(self.COLS, dup), want)

    def test_engine_value_forms_agree(self):
        # the same logical value as Spark's parquet and DuckDB's SQL return it
        self.assertEqual(stats.canon(5), stats.canon(5.0))
        self.assertEqual(stats.canon(decimal.Decimal("12.500000")), stats.canon(12.5))
        self.assertEqual(stats.canon(0.1 + 0.2), stats.canon(0.3))
        utc = datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc)
        self.assertEqual(stats.canon(utc), stats.canon(datetime.datetime(2024, 1, 2, 3, 4, 5)))
        self.assertNotEqual(stats.canon(None), stats.canon("null"))
        self.assertEqual(stats.canon([1, 2.0]), stats.canon((1.0, 2)))


if __name__ == "__main__":
    unittest.main()
