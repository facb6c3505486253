"""Tests of the benchmark's own statistics and checks.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import metrics as M  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_interpolates_like_numpy_linear(self):
        self.assertEqual(M.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertAlmostEqual(M.percentile(list(range(11)), 0.9), 9.0)

    def test_ten_samples_beyond(self):
        # p90 of 100 samples leaves samples 91..100 beyond it
        self.assertEqual(M.beyond(100, 0.9), 10)
        self.assertTrue(M.reportable(100, 0.9))
        # with 91 samples the p90 is the 82nd: only 9 lie beyond
        self.assertFalse(M.reportable(91, 0.9))
        # the median needs 20 samples
        self.assertFalse(M.reportable(19, 0.5))
        self.assertTrue(M.reportable(21, 0.5))
        self.assertFalse(M.reportable(0, 0.5))


class FailureAccounting(unittest.TestCase):
    def test_failed_operation_is_counted_not_timed(self):
        ops = [
            {"name": "q1", "ok": True, "lat_s": 0.5},
            # a throwing operation: no timing sample, even if a caller
            # attached a (fast) elapsed time to it
            {"name": "q2", "ok": False, "error": "boom", "lat_s": 0.001},
            {"name": "q3", "ok": True, "lat_s": 0.7},
        ]
        acc = M.account(ops)
        self.assertEqual(acc["attempted"], 3)
        self.assertEqual(acc["failed"], 1)
        self.assertEqual(acc["failed_names"], ["q2"])
        self.assertEqual(acc["samples"], [0.5, 0.7])
        self.assertAlmostEqual(acc["fail_frac"], 1 / 3)

    def test_geomean_of_percentiles_skips_failures(self):
        ops = [{"name": "a", "ok": True, "lat_s": x} for x in (0.1, 0.1, 0.5)]
        ops += [{"name": "b", "ok": True, "lat_s": x} for x in (1.0, 0.9, 1.1)]
        ops += [{"name": "b", "ok": False, "lat_s": 0.0001}]
        self.assertAlmostEqual(M.geomean_of_percentiles(ops), (100.0 * 1000.0) ** 0.5)
        self.assertAlmostEqual(M.geomean_of_percentiles(ops, 1.0), (500.0 * 1100.0) ** 0.5)

    def test_stalls_need_ratio_and_absolute_floor(self):
        ops = [{"name": "fast", "ok": True, "lat_s": x} for x in (0.10, 0.16, 0.30)]
        ops += [{"name": "slow", "ok": True, "lat_s": x} for x in (1.0, 1.2, 1.6)]
        # 0.16 and 0.30 are >= 1.5x of 0.10 but less than 0.25 s above it
        self.assertEqual(M.stalls(ops), 1)


class Digest(unittest.TestCase):
    def test_order_insensitive(self):
        cols = ["b", "a"]
        rows = [[i, f"x{i}"] for i in range(50)] + [[None, float("nan")], [1.5, "y"]]
        shuffled = rows[:]
        random.Random(7).shuffle(shuffled)
        self.assertEqual(M.row_digest(cols, rows), M.row_digest(cols, shuffled))
        # column order does not matter either, as long as names follow values
        swapped = [[r[1], r[0]] for r in rows]
        self.assertEqual(M.row_digest(cols, rows), M.row_digest(["a", "b"], swapped))

    def test_content_sensitive(self):
        rows = [[1, "x"], [2, "y"]]
        self.assertNotEqual(M.row_digest(["a", "b"], rows), M.row_digest(["a", "b"], rows[:1]))
        self.assertNotEqual(M.row_digest(["a", "b"], rows), M.row_digest(["a", "b"], [[1, "x"], [2, "z"]]))
        # a duplicated row is a different multiset
        self.assertNotEqual(M.row_digest(["a", "b"], rows), M.row_digest(["a", "b"], rows + rows[:1]))


class CorpusModel(unittest.TestCase):
    """The corpus output check accepts the survivors its model predicts
    and refuses the failures a wrong pipeline would show."""

    @classmethod
    def setUpClass(cls):
        with tempfile.TemporaryDirectory() as d:
            cls.planted = gen.corpus_tables(d, np.random.default_rng(7), copies=2, bench_docs=20)
        cls.expect, cls.root, _ = M.corpus_expected(cls.planted)
        cls.text_of = dict(zip(cls.planted["ids"], cls.planted["texts"]))

    def check(self, ids, pack_delta=0):
        w = [x for i in ids for x in M.chunk_windows(len(self.text_of[i].split()), 32, 8)]
        run = {"survivor_ids": sorted(ids), "packed_rows": len(w), "packed_ntok": sum(w) + pack_delta}
        return M.corpus_output_check(self.planted, run, 32, 8)

    def copies(self):
        """Gated, uncontaminated planted copies whose lineage keeps a survivor."""
        return [i for i in self.planted["ids"] if i not in self.expect
                and self.root[i] in {self.root[j] for j in self.expect}
                and M.quality(self.text_of[i]) >= M.MIN_QUALITY
                and self.text_of[i] != self.text_of[self.root[i]]]

    def test_chunk_windows(self):
        self.assertEqual(M.chunk_windows(10, 32, 8), [10])
        self.assertEqual(M.chunk_windows(56, 32, 8), [32, 32])
        self.assertEqual(M.chunk_windows(57, 32, 8), [32, 32, 9])

    def test_model_output_passes(self):
        self.assertGreater(len(self.expect), len(self.planted["ids"]) // 2)
        self.assertEqual(self.check(self.expect), [])

    def test_kept_near_copies_beyond_slack_fail(self):
        near = self.copies()[:M.NEAR_MISS_SLACK + 1]
        self.assertEqual(self.check(self.expect | set(near[:-1])), [])
        self.assertTrue(self.check(self.expect | set(near)))

    def test_exact_copy_or_gated_doc_fails(self):
        exact = [i for i, p in zip(self.planted["ids"], self.planted["parents"])
                 if p >= 0 and self.text_of[i] == self.text_of[p] and p in self.expect]
        self.assertTrue(exact)
        self.assertTrue(any("repeat" in b for b in self.check(self.expect | {exact[0]})))
        gated = next(i for i in self.planted["ids"] if M.quality(self.text_of[i]) < 0.6)
        self.assertTrue(any("drop" in b for b in self.check(self.expect | {gated})))

    def test_dropped_survivors_and_wrong_pack_fail(self):
        fewer = set(sorted(self.expect)[::2])
        self.assertTrue(any("expected survivors dropped" in b for b in self.check(fewer)))
        self.assertTrue(any("pack holds" in b for b in self.check(self.expect, pack_delta=1)))

    def test_benchmark_text_must_not_survive(self):
        leaked = next(i for i, t in self.text_of.items() if t == self.planted["bench"][0])
        self.assertTrue(any("benchmark" in b for b in self.check(self.expect | {leaked})))


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_due_time_of_newest_event_to_commit(self):
        appends = [
            {"offset": 0, "part": 1, "step": 0, "rows": 3, "sent_us": 1_000_500, "max_due_us": 1_000_000,
             "lag_us_sum": 1500},
            # the generator ran late: sent 40 ms after due
            {"offset": 1, "part": 1, "step": 0, "rows": 1, "sent_us": 1_090_000, "max_due_us": 1_050_000,
             "lag_us_sum": 40_000},
        ]
        batches = [
            {"query": "q", "batch": 7, "rows": 4, "end_offset": "1", "start_ms": 1_100, "trigger_ms": 250},
            {"query": "q", "batch": 8, "rows": 0, "end_offset": "1", "start_ms": 1_400, "trigger_ms": 20},
        ]
        lats = M.batch_latencies(batches, appends)
        self.assertEqual(len(lats), 1)  # the no-data batch is not an operation
        # commit at 1100 + 250 = 1350 ms; newest event due at 1050 ms; the
        # late send counts against the batch
        self.assertAlmostEqual(lats[0]["lat_ms"], 300.0)
        self.assertEqual(lats[0]["step"], 0)
        self.assertAlmostEqual(M.generator_lag_ms(appends), (1500 + 40_000) / 4 / 1000)

    def test_burst_capacity_is_the_geomean_of_per_query_median_rates(self):
        appends = [
            {"offset": 0, "part": 1, "step": 0, "rows": 10, "max_due_us": 1_000_000},
            {"offset": 1, "part": 1, "step": 1, "rows": 50_000, "max_due_us": 5_000_000},
            {"offset": 2, "part": 1, "step": 1, "rows": 50_000, "max_due_us": 9_000_000},
        ]
        batches = [
            {"query": "a", "rows": 10, "end_offset": "0", "start_ms": 1_010, "trigger_ms": 300},
            {"query": "a", "rows": 50_000, "end_offset": "1", "start_ms": 5_010, "trigger_ms": 1_000},
            {"query": "b", "rows": 50_000, "end_offset": "1", "start_ms": 5_020, "trigger_ms": 2_000},
            {"query": "b", "rows": 0, "end_offset": "1", "start_ms": 7_100, "trigger_ms": 100},
            {"query": "a", "rows": 50_000, "end_offset": "2", "start_ms": 9_010, "trigger_ms": 500},
            {"query": "b", "rows": 50_000, "end_offset": "2", "start_ms": 9_010, "trigger_ms": 1_000},
        ]
        # batch rates: a 50k and 100k, b 25k and 50k events per second
        self.assertAlmostEqual(M.burst_capacity(batches, appends, 1), (75_000 * 37_500) ** 0.5)

    def test_backlog_and_sustained_rate(self):
        flat = [100.0] * 40
        growing = [100.0 + 30 * i for i in range(40)]
        self.assertFalse(M.backlog_growing(flat))
        self.assertTrue(M.backlog_growing(growing))
        self.assertTrue(M.step_sustained(flat, 150.0))
        self.assertFalse(M.step_sustained(flat, 90.0))
        self.assertFalse(M.step_sustained(growing, 10_000.0))


if __name__ == "__main__":
    unittest.main()
