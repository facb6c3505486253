"""Tests of the seeded input generator."""
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


def digest_of(make, seed):
    with tempfile.TemporaryDirectory() as d:
        make(d, np.random.default_rng(seed))
        return gen.input_digest(d)


class Seeds(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        make = lambda d, rng: gen.corpus_tables(d, rng, copies=2, bench_docs=10)  # noqa: E731
        self.assertEqual(digest_of(make, 5), digest_of(make, 5))
        self.assertNotEqual(digest_of(make, 5), digest_of(make, 6))

    def test_catalog_tables_are_seeded(self):
        self.assertEqual(digest_of(gen.catalog_tables, 1), digest_of(gen.catalog_tables, 1))


class CorpusCopies(unittest.TestCase):
    def test_copy_zero_is_identity_and_copies_are_bijections(self):
        self.assertEqual("abc xyz".translate(gen.copy_table(0)), "abc xyz")
        letters = "".join(gen.ALPHABETS)
        for c in (1, 2, 3, 50):
            mapped = letters.translate(gen.copy_table(c))
            self.assertEqual(sorted(mapped), sorted(letters))
            # every alphabet maps onto itself
            start = 0
            for a in gen.ALPHABETS:
                self.assertEqual(sorted(mapped[start:start + len(a)]), sorted(a))
                start += len(a)
        self.assertNotEqual(letters.translate(gen.copy_table(1)), letters.translate(gen.copy_table(2)))


class StreamSchedule(unittest.TestCase):
    def setUp(self):
        self.steps = [(100, 2.0), (1000, 1.0), (20000, 0.5)]
        self.cols = gen.stream_schedule(np.random.default_rng(3), self.steps, warm_rows=100,
                                        dt_us=100_000, late_share=0.2, late_rows=20,
                                        lateness_us=1800 * 1_000_000, burst_rows=5000, bursts=2,
                                        gap_s=1.0)

    def test_sizes_and_due_order(self):
        c = self.cols
        self.assertEqual(int((c["part"] == 0).sum()), 100)
        self.assertEqual(int((c["part"] == 1).sum()), 200 + 1000 + 10000 + 2 * 5000)
        self.assertEqual(int((c["part"] == 2).sum()), 5000)
        for p in (0, 1, 2):
            due = c["dueUs"][c["part"] == p]
            self.assertTrue((np.diff(due) >= 0).all())
        # the bursts: each all due at once, a quiet second apart
        burst = c["dueUs"][(c["part"] == 1) & (c["step"] == 3)]
        self.assertEqual(sorted(set(burst.tolist())), [4_500_000, 5_500_000])
        self.assertLess(c["dueUs"][(c["part"] == 1) & (c["step"] < 3)].max(), 4_000_000)

    def test_each_user_in_order_but_some_events_late(self):
        c = self.cols
        for p in (0, 1, 2):
            m = c["part"] == p
            for u in np.unique(c["user"][m]):
                ts = c["tsUs"][m & (c["user"] == u)]
                self.assertTrue((np.diff(ts) > 0).all(), u)
        ts = c["tsUs"][c["part"] == 1]
        self.assertTrue((np.diff(ts) < 0).any())

    def test_late_events_stay_within_watermark_delay(self):
        with self.assertRaises(ValueError):
            gen.stream_schedule(np.random.default_rng(3), self.steps, warm_rows=100, dt_us=100_000,
                                late_share=0.2, late_rows=20, lateness_us=1_000_000,
                                burst_rows=5000, bursts=2, gap_s=1.0)


if __name__ == "__main__":
    unittest.main()
