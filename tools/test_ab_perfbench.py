#!/usr/bin/env python3
"""Arithmetic of tools/ab_perfbench.py on canned result lines.

Run: python3 tools/test_ab_perfbench.py
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_perfbench as ab  # noqa: E402

METRICS = [{"name": "throughput_per_s", "better": "higher"},
           {"name": "latency_p50_s", "better": "lower"}]


def line(side, seed, thr, p50, correct=True):
    """One kept result record, as ab_perfbench writes it."""
    return {"side": side, "seed": seed, "result": {
        "correct": correct, "attempted": 100, "failed": 0 if correct else 3,
        "metrics": {"throughput_per_s": {"value": thr, "unit": "1/s"},
                    "latency_p50_s": {"value": p50, "unit": "s"}}}}


class Seeds(unittest.TestCase):
    def test_range_and_single(self):
        self.assertEqual(ab.parse_seeds("3-6"), [3, 4, 5, 6])
        self.assertEqual(ab.parse_seeds("7"), [7])
        with self.assertRaises(ValueError):
            ab.parse_seeds("6-3")

    def test_order_alternates(self):
        self.assertEqual([ab.order_of(i)[0] for i in range(4)],
                         ["parent", "change", "parent", "change"])

    def test_last_json_line(self):
        out = "building\n{\"a\": 1}\nnoise\n{\"correct\": true, \"metrics\": {}}\n"
        self.assertEqual(ab.last_json_line(out), {"correct": True, "metrics": {}})
        self.assertIsNone(ab.last_json_line("no result\n"))


class Compare(unittest.TestCase):
    def test_quartiles_match_statistics(self):
        xs = [5.1, 5.6, 4.9, 6.2, 5.5, 5.0, 5.8]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(ab.quartiles(xs), (q1, med, q3))
        self.assertEqual(ab.quartiles([2.0]), (2.0, 2.0, 2.0))

    def test_clear_gain_holds(self):
        pairs = [(5.0 + 0.1 * i, 6.5 + 0.1 * i) for i in range(10)]
        c = ab.compare(pairs, "higher")
        self.assertEqual((c["change_wins"], c["parent_wins"]), (10, 0))
        self.assertAlmostEqual(c["gap"], 1.5)
        self.assertAlmostEqual(c["parent_iqr"], ab.quartiles([p for p, _ in pairs])[2]
                               - ab.quartiles([p for p, _ in pairs])[0])
        self.assertTrue(c["gain_holds"])

    def test_lower_is_better_direction(self):
        pairs = [(0.40, 0.30)] * 10
        c = ab.compare(pairs, "lower")
        self.assertEqual(c["change_wins"], 10)
        self.assertAlmostEqual(c["gap"], 0.10)
        self.assertTrue(c["gain_holds"])
        self.assertFalse(ab.compare([(0.30, 0.40)] * 10, "lower")["gain_holds"])

    def test_eight_of_ten_wins_fails(self):
        pairs = [(5.0, 7.0)] * 8 + [(5.0, 4.0)] * 2
        c = ab.compare(pairs, "higher")
        self.assertEqual((c["change_wins"], c["parent_wins"]), (8, 2))
        self.assertFalse(c["gain_holds"])

    def test_ties_count_for_neither(self):
        pairs = [(5.0, 7.0)] * 9 + [(5.0, 5.0)]
        c = ab.compare(pairs, "higher")
        self.assertEqual((c["change_wins"], c["parent_wins"]), (9, 0))
        self.assertTrue(c["gain_holds"])

    def test_gap_within_parent_iqr_fails(self):
        # the change wins every pair, but by less than the parent's spread
        par = [4.0, 4.5, 5.0, 5.5, 6.0, 6.5, 7.0, 7.5, 8.0, 8.5]
        c = ab.compare([(p, p + 0.1) for p in par], "higher")
        self.assertEqual(c["change_wins"], 10)
        self.assertLess(c["gap"], c["parent_iqr"])
        self.assertFalse(c["gain_holds"])

    def test_fewer_than_ten_pairs_fails(self):
        self.assertFalse(ab.compare([(5.0, 7.0)] * 9, "higher")["gain_holds"])


class Records(unittest.TestCase):
    def test_pairs_skip_incorrect_and_unpaired_runs(self):
        recs = [line("parent", 1, 5.0, 0.3), line("change", 1, 6.0, 0.25),
                line("parent", 2, 5.1, 0.3), line("change", 2, 9.9, 0.1, correct=False),
                line("change", 3, 6.1, 0.2),
                {"side": "parent", "seed": 4, "result": None},
                line("change", 4, 6.2, 0.2)]
        self.assertEqual(ab.pairs_of(recs, "throughput_per_s"), [(5.0, 6.0)])

    def test_report_from_a_kept_file(self):
        recs = []
        for i, seed in enumerate(range(100, 110)):
            recs += [line("parent", seed, 5.0 + 0.01 * i, 0.30),
                     line("change", seed, 6.5 + 0.01 * i, 0.28)]
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            f.write("\n".join(json.dumps(r) for r in recs) + "\n")
        try:
            lines = ab.report(ab.load(f.name), METRICS)
        finally:
            os.unlink(f.name)
        self.assertEqual(lines[0], "parent: 10 runs, 10 correct, 0 failed requests")
        thr = next(l for l in lines if l.startswith("throughput_per_s"))
        self.assertIn("change won 10/10, parent won 0/10", thr)
        self.assertIn("gain rule holds", thr)
        p50 = next(l for l in lines if l.startswith("latency_p50_s"))
        self.assertIn("change won 10/10", p50)
        self.assertIn("median gap +0.02 vs parent IQR 0", p50)


if __name__ == "__main__":
    unittest.main()
