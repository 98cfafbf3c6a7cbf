"""Tests of the benchmark's own math on synthetic inputs.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import benchlib as bl  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(bl.tail_percentile(100), 90)
        self.assertEqual(bl.tail_percentile(40), 75)
        self.assertEqual(bl.tail_percentile(30), 66)
        self.assertEqual(bl.tail_percentile(11), 9)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(bl.tail_percentile(10))
        self.assertEqual(bl.tail([1.0] * 10), (None, None))

    def test_tail_value_leaves_ten_samples_beyond(self):
        for n in (11, 30, 37, 100, 250):
            xs = list(range(n, 0, -1))
            p, v = bl.tail(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)
            # one percentile higher would leave fewer than ten beyond
            self.assertLess(sum(x > bl.nearest_rank(xs, p + 1) for x in xs), 10, n)

    def test_p90_of_one_hundred_is_the_ninetieth_value(self):
        self.assertEqual(bl.tail([float(i) for i in range(1, 101)]), (90, 90.0))

    def test_slower_half_mean_of_too_few_samples(self):
        self.assertEqual(bl.slower_half_mean([5.0, 1.0, 3.0, 2.0]), 4.0)
        self.assertEqual(bl.slower_half_mean([1.0, 9.0, 2.0]), 5.5)


def span(i, parent, a, b):
    return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}


class SelfTime(unittest.TestCase):
    def test_children_overlaps_count_once_and_are_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 1, 90, 120), span(5, 2, 12, 14)]
        st = bl.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20 - 2)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 2)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(bl.self_times([span("a", 0, 5.0, 7.5)]), {"a": 2.5})

    def test_self_times_sum_to_root_duration_when_children_nest(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 1, 5, 9), span(4, 3, 6, 7)]
        self.assertAlmostEqual(sum(bl.self_times(spans).values()), 10)


class WriteAccounting(unittest.TestCase):
    before = {"bucket=0/a.parquet": [100, 1, 10], "bucket=1/b.parquet": [200, 1, 20],
              "bucket=3/e.parquet": [70, 1, 7]}
    after = {"bucket=0/a.parquet": [100, 1, 10], "bucket=1/c.parquet": [300, 2, 30],
             "bucket=2/d.parquet": [50, 3, 5], "bucket=3/e.parquet": [80, 4, 8]}

    def test_touched_buckets_bytes_and_rows(self):
        touched, written, rows = bl.write_accounting(self.before, self.after)
        # bucket 1 rewritten, bucket 2 created, bucket 3 file changed in place
        self.assertEqual(touched, 3)
        self.assertEqual(written, 300 + 50 + 80)
        self.assertEqual(rows, 30 + 5 + 8)

    def test_removed_files_touch_their_bucket(self):
        touched, written, _ = bl.write_accounting(self.before, {})
        self.assertEqual((touched, written), (3, 0))

    def test_first_write_counts_every_file(self):
        self.assertEqual(bl.write_accounting({}, self.before), (3, 370, 37))

    def test_write_amp_base_is_raw_cell_bytes(self):
        cells = [("r1", "cf1", "q0", "abcd", 0), ("r22", "cf1", "q1", "", 5)]
        self.assertEqual(bl.cell_bytes(cells), (2 + 3 + 2 + 4 + 8) + (3 + 3 + 2 + 0 + 8))


class OpenLoop(unittest.TestCase):
    def test_latency_wait_and_lateness_from_due_times(self):
        due = [0.0, 100.0, 200.0, 300.0]
        moved = [1.0, 100.5, 230.0, 300.0]
        file_batch = bl.batch_of_files(4, bl.files_per_batch([400, 400], 200))
        self.assertEqual(file_batch, [0, 0, 1, 1])
        lat, wait, late = bl.open_loop(due, moved, file_batch, [150.0, 350.0], [900.0, 1000.0])
        self.assertEqual(lat, [900.0, 800.0, 800.0, 700.0])
        self.assertEqual(wait, [150.0, 50.0, 150.0, 50.0])
        self.assertEqual(late, [1.0, 0.5, 30.0, 0.0])

    def test_partial_files_and_missing_files_are_detected(self):
        self.assertIsNone(bl.files_per_batch([400, 300], 200))
        self.assertIsNone(bl.batch_of_files(5, [2, 2]))

    def test_drain_rate_excludes_the_first_batch(self):
        self.assertEqual(bl.drain_rate([2000, 2000, 2000], [5000.0, 6000.0, 7000.0]), 2000.0)
        self.assertEqual(bl.drain_rate([2000], [5000.0]), 0.0)


class LastWriteWins(unittest.TestCase):
    def test_later_ts_wins_and_ties_go_to_the_larger_value(self):
        state = {}
        self.assertEqual(bl.lww_fold(state, [("r", "cf", "q", "b", 1), ("r", "cf", "q", "a", 1),
                                             ("s", "cf", "q", "x", 1)]), 2)
        self.assertEqual(state, {"r": {("cf", "q"): (1, "b")}, "s": {("cf", "q"): (1, "x")}})
        # an older write loses; a newer one with the same value is no change
        self.assertEqual(bl.lww_fold(state, [("r", "cf", "q", "z", 0), ("s", "cf", "q", "x", 2)]), 0)
        self.assertEqual(state["r"][("cf", "q")], (1, "b"))
        self.assertEqual(state["s"][("cf", "q")], (2, "x"))


if __name__ == "__main__":
    unittest.main()
