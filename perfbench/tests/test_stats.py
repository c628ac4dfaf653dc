"""Tests for the benchmark's own arithmetic (perfbench/stats.py and the
oracle digest in perfbench/check.py). No Spark, no build:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))            # 100 samples
        p, v, n = stats.tail(xs)
        self.assertEqual((p, n), (90.0, 100))   # p95 leaves only 5 beyond
        self.assertAlmostEqual(v, 90.5, places=3)   # Harrell-Davis at p90

    def test_thousand_samples_reach_p99(self):
        p, v, n = stats.tail(list(range(1, 1001)))
        self.assertEqual(p, 99.0)
        self.assertAlmostEqual(v, 990.5, places=3)

    def test_forty_samples_give_p75(self):
        p, v, _ = stats.tail([float(i) for i in range(40)])
        self.assertEqual(p, 75.0)           # rank 30 of 40, 10 beyond
        self.assertAlmostEqual(v, 29.5, places=3)

    def test_too_few_samples_report_max_as_p100(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0])[:2], (100.0, 3.0))

    def test_order_free(self):
        xs = [5, 1, 4, 2, 3] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_nearest_rank_percentile_and_median(self):
        self.assertEqual(stats.percentile([10, 20, 30, 40], 50), 20)
        self.assertEqual(stats.percentile([10, 20, 30, 40], 51), 30)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([3, 1, 2]), 2)


class HarrellDavisTest(unittest.TestCase):
    def test_symmetric_sample_median_is_centre(self):
        self.assertAlmostEqual(stats.hd_quantile(list(range(1, 102)), 50), 51.0, places=3)

    def test_moves_smoothly_across_a_gap(self):
        # 20 fast and 20 slow requests: the order-statistic median sits on
        # one cluster; nudging one sample across the gap flips it, while
        # the Harrell-Davis median moves by a small step
        fast, slow = [0.2] * 20, [1.0] * 20
        a = stats.hd_quantile(fast + slow, 50)
        b = stats.hd_quantile(fast[:-1] + slow + [1.0], 50)
        self.assertAlmostEqual(a, 0.6, places=3)
        self.assertLess(abs(b - a), 0.15)
        self.assertGreater(stats.percentile(fast[:-1] + slow + [1.0], 50) -
                           stats.percentile(fast + slow, 50), 0.7)

    def test_single_sample(self):
        self.assertEqual(stats.hd_quantile([3.5], 90), 3.5)

    def test_tail_percentile_rule(self):
        self.assertEqual([stats.tail_percentile(n) for n in (5, 20, 40, 100, 1000, 20000)],
                         [100.0, 50.0, 75.0, 90.0, 99.0, 99.9])


class DueTimeTest(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # due at 1.0 s, picked up at 1.5 s (queued), done at 1.7 s
        self.assertAlmostEqual(stats.due_latency(1_000_000_000, 1_700_000_000), 0.7)
        self.assertAlmostEqual(stats.queue_wait(1_000_000_000, 1_500_000_000), 0.5)

    def test_closed_loop_rate_is_clients_over_mean_response(self):
        # 4 clients, 8 requests of 0.5 s each: 8 requests/s
        self.assertAlmostEqual(stats.closed_loop_rate(4, 8, 4.0), 8.0)
        self.assertEqual(stats.closed_loop_rate(4, 0, 0.0), 0.0)

    def test_early_start_has_no_negative_wait(self):
        self.assertEqual(stats.queue_wait(2_000_000_000, 1_999_000_000), 0.0)


class OffsetMappingTest(unittest.TestCase):
    BATCHES = [(0, -1, 2), (1, 2, 5), (2, 5, 6)]   # (batch, start, end]

    def test_offsets_map_to_consuming_batch(self):
        got = [stats.batch_of_offset(self.BATCHES, o) for o in range(0, 8)]
        self.assertEqual(got, [0, 0, 0, 1, 1, 1, 2, None])

    def test_chunk_latency_uses_sink_return_of_its_batch(self):
        chunks = [(0, 100, 10), (3, 200, 5), (7, 300, 1)]
        ends = {0: 1100, 1: 2200}
        out = stats.chunk_latencies(chunks, self.BATCHES, ends)
        self.assertEqual(out, [1000 / 1e9, 2000 / 1e9])   # offset 7 unconsumed

    def test_batch_without_sink_return_is_skipped(self):
        self.assertEqual(stats.chunk_latencies([(6, 0, 1)], self.BATCHES, {0: 1}), [])


class WriteAmpTest(unittest.TestCase):
    def test_append_counts_new_files_only(self):
        before = {"/dt=1/a.parquet": 100}
        after = {"/dt=1/a.parquet": 100, "/dt=1/b.parquet": 40, "/dt=2/c.parquet": 60}
        self.assertEqual(stats.written_bytes(before, after), 100)
        self.assertEqual(stats.files_written(before, after), 2)

    def test_upsert_rewrite_counts_whole_table(self):
        before = {"/part-0-x.parquet": 500}
        after = {"/part-0-y.parquet": 520, "/part-1-y.parquet": 480}
        self.assertEqual(stats.written_bytes(before, after), 1000)

    def test_same_name_new_size_counts(self):
        self.assertEqual(stats.written_bytes({"/a": 1}, {"/a": 2}), 2)


class SelfTimeTest(unittest.TestCase):
    def test_parent_minus_children(self):
        spans = [(1, 0, 0, 100), (2, 1, 10, 30), (3, 1, 50, 60)]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got[1], 70 / 1e9)
        self.assertAlmostEqual(got[2], 20 / 1e9)

    def test_overlapping_children_count_once(self):
        spans = [(1, 0, 0, 100), (2, 1, 10, 50), (3, 1, 40, 60)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 50 / 1e9)

    def test_children_clipped_to_parent(self):
        spans = [(1, 0, 0, 100), (2, 1, 90, 150)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 90 / 1e9)

    def test_grandchildren_do_not_reduce_grandparent_twice(self):
        spans = [(1, 0, 0, 100), (2, 1, 0, 80), (3, 2, 0, 40)]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got[1], 20 / 1e9)
        self.assertAlmostEqual(got[2], 40 / 1e9)
        self.assertAlmostEqual(sum(got.values()), 100 / 1e9)


class BacklogTest(unittest.TestCase):
    def test_progress_at_and_slope(self):
        pts = [(10, 5), (20, 9), (30, 12)]
        self.assertEqual([stats.progress_at(pts, t) for t in (5, 10, 25, 99)], [0, 5, 9, 12])
        self.assertAlmostEqual(stats.slope([0, 1, 2], [1, 3, 5]), 2.0)
        self.assertEqual(stats.slope([1], [1]), 0.0)


class CanonHashTest(unittest.TestCase):
    def setUp(self):
        try:
            import pandas  # noqa: F401
        except ImportError:
            self.skipTest("pandas not installed")

    def test_row_and_column_order_do_not_matter(self):
        import pandas as pd
        import check
        a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
        b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
        self.assertEqual(check.canon_hash(a), check.canon_hash(b))

    def test_int_and_float_kinds_differ(self):
        import pandas as pd
        import check
        self.assertNotEqual(check.canon_hash(pd.DataFrame({"x": [1, 2]})),
                            check.canon_hash(pd.DataFrame({"x": [1.0, 2.0]})))

    def test_endpoint_numbers_compare_by_value(self):
        import check
        self.assertTrue(check.same_response({"v": "1.2345678E7"}, {"v": "12345678.0"}))
        self.assertFalse(check.same_response({"v": ["a", 1]}, {"v": ["a", 2]}))


if __name__ == "__main__":
    unittest.main()
