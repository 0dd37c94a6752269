"""Tests of the benchmark's metric math: the tail-percentile rule, span self
time, and the byte accounting behind write and space amplification.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402
import report  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = [float(i) for i in range(1, 31)]
        value, pct, n = M.tail(xs)
        self.assertEqual(value, 20.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)
        self.assertEqual(n, 30)

    def test_order_of_samples_does_not_matter(self):
        xs = [float(i) for i in range(100)]
        self.assertEqual(M.tail(list(reversed(xs)))[0], 89.0)

    def test_small_samples_report_the_maximum(self):
        # with 20 samples the rule's percentile would sit at the median
        self.assertEqual(M.tail([float(i) for i in range(20)]), (19.0, 100.0, 20))
        self.assertEqual(M.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))

    def test_first_sample_count_with_a_tail_above_the_median(self):
        value, pct, _ = M.tail([float(i) for i in range(21)])
        self.assertEqual(value, 10.0)
        self.assertGreater(pct, 50.0)

    def test_empty(self):
        self.assertEqual(M.tail([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(M.union_length([(1, 3), (2, 5), (8, 12)], 0, 10), 6.0)
        self.assertAlmostEqual(M.union_length([(0, 1), (1, 2)]), 2.0)
        self.assertAlmostEqual(M.union_length([(5, 4)]), 0.0)

    def test_self_time_subtracts_the_covered_part_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
            {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},  # overlaps 2
            {"id": 4, "parent": 3, "start": 2.5, "end": 3.5},  # grandchild
            {"id": 5, "parent": 1, "start": 8.0, "end": 12.0},  # outlives 1
        ]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 3.0 - 1.0)
        self.assertAlmostEqual(st[4], 1.0)
        self.assertAlmostEqual(st[5], 4.0)


class ByteAccountingTest(unittest.TestCase):
    def test_new_and_rewritten_files_count_deleted_do_not(self):
        before = {"a": 10, "b": 20, "c": 30}
        after = {"a": 10, "b": 25, "d": 40}  # b rewritten, c vacuumed, d new
        self.assertEqual(M.new_bytes(before, after), 65)

    def test_ratios(self):
        self.assertAlmostEqual(M.write_amp(300, 100), 3.0)
        self.assertAlmostEqual(M.space_amp(500, 250), 2.0)
        self.assertEqual(M.write_amp(5, 0), 0.0)
        self.assertEqual(M.space_amp(5, 0), 0.0)

    def test_amplification_counts_only_measured_batches(self):
        rec = report.by_kind([
            {"t": "walk", "batch": 0, "phase": "setup", "files": {"s/v=0/p": 100}},
            {"t": "walk", "batch": 1, "phase": "warm",
             "files": {"s/v=0/p": 100, "s/v=1/p": 50}},
            {"t": "walk", "batch": 2, "phase": "commit",
             "files": {"s/v=0/p": 100, "s/v=1/p": 50, "s/v=2/p": 60}},
            {"t": "walk", "batch": 2, "phase": "compact",
             "files": {"s/v=0/p": 100, "s/v=1/p": 50, "s/v=2/p": 60, "s/v=3/p": 70}},
            {"t": "walk", "batch": 2, "phase": "measure",
             "files": {"s/v=2/p": 60, "s/v=3/p": 70, "e/_current": 8}},
            {"t": "op", "kind": "batch", "phase": "warm", "unit": 1},
            {"t": "op", "kind": "batch", "phase": "measure", "unit": 2},
            {"t": "stored", "bytes": 138},
            {"t": "compact", "table": "s", "bytes": 46},
            {"t": "compact", "table": "e", "bytes": 23},
        ])
        written = report.written_bytes(rec)
        self.assertEqual(written[(0, "setup")], 100)
        self.assertEqual(written[(1, "warm")], 50)
        self.assertEqual(written[(2, "commit")], 60)
        self.assertEqual(written[(2, "compact")], 70)
        self.assertEqual(written[(2, "measure")], 8)
        stored, wamp, samp = report.amplification(rec, {"batch_bytes": [999, 69]})
        self.assertEqual(stored, 138)
        self.assertAlmostEqual(wamp, (130 + 8) / 69)
        self.assertAlmostEqual(samp, 138 / 69)


if __name__ == "__main__":
    unittest.main()
