"""Tests of the benchmark's own arithmetic. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(range(19)), (None, None, 19))
        p, v, n = metrics.tail(range(1, 21))
        self.assertEqual((p, v, n), (50.0, 10, 20))

    def test_highest_percentile_the_sample_supports(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs), (90.0, 90, 100))
        self.assertEqual(metrics.tail(list(range(1, 1001)))[:2], (99.0, 990))
        self.assertEqual(metrics.tail(list(range(1, 10001)))[:2], (99.9, 9990))

    def test_every_reported_tail_has_ten_samples_above(self):
        for n in range(1, 400):
            xs = list(range(n))
            p, v, _ = metrics.tail(xs)
            if p is not None:
                self.assertGreaterEqual(sum(1 for x in xs if x > v), metrics.MIN_BEYOND)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class SelfTimeTest(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 20), (50, 70)]), 70)

    def test_overlapping_children_count_once(self):
        # three route appends running at once, then the fact swap
        jobs = [(10, 40), (15, 50), (20, 45), (60, 80)]
        self.assertEqual(metrics.union_length(jobs), 60)
        self.assertEqual(metrics.self_time((0, 100), jobs), 40)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((10, 20), [(0, 12), (18, 30)]), 6)
        self.assertEqual(metrics.self_time((10, 20), [(30, 40)]), 10)

    def test_nested_and_touching_children(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 15)]), 15)
        self.assertEqual(metrics.union_length([]), 0)


class AmplificationTest(unittest.TestCase):
    """A tiny table: one data file and a log entry before the loop; the
    loop adds a deletion-vector sidecar, a rewritten data file and a log
    entry, and the rewritten file replaces the original in the snapshot.
    """

    table = {
        "before": {"_log/0.json": 100, "data/a.parquet": 1000},
        "after": {"_log/0.json": 100, "_log/1.json": 120, "data/a.parquet": 1000,
                  "data/b.parquet": 800, "data/dv-1/x.parquet": 80},
        "live": {"data/b.parquet": 800},
        "live_before": {"data/a.parquet": 1000},
        "user_bytes": 250,
    }

    def test_write_and_space_amplification(self):
        a = metrics.amplification(self.table)
        self.assertEqual(a["written_bytes"], 120 + 800 + 80)
        self.assertEqual(a["total_bytes"], 2100)
        self.assertEqual(a["live_bytes"], 800)
        self.assertAlmostEqual(a["write_amp"], 1000 / 250)
        self.assertAlmostEqual(a["space_amp"], 2100 / 800)

    def test_a_rewritten_file_counts_as_written(self):
        t = dict(self.table, after=dict(self.table["after"], **{"_log/0.json": 150}))
        self.assertEqual(metrics.amplification(t)["written_bytes"], 150 + 120 + 800 + 80)

    def test_no_base_gives_none(self):
        t = dict(self.table, user_bytes=0, live={})
        a = metrics.amplification(t)
        self.assertIsNone(a["write_amp"])
        self.assertIsNone(a["space_amp"])


class MedianTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(metrics.median([]))

    def test_geomean_ignores_missing(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0, None]), 2.0)


def _op(name, cycle, dur, kind="dml"):
    return {"kind": kind, "name": name, "cycle": cycle, "dur_s": dur, "ok": True, "parts": {}}


class SummaryTest(unittest.TestCase):
    """Two names in a table_dml loop; the warm-up round (cycle -1) and
    vacuum are not part of the loop's figures.
    """

    rec = {
        "env": {"workload": "table_dml"},
        "session_start_s": 3.0,
        "setup_s": [5.0, 2.0, 1.0],
        "peak_rss_mb": 100.0,
        "ops": [_op("merge", -1, 9.0), _op("point_lookup", -1, 9.0, "read"),
                _op("merge", 0, 1.0), _op("point_lookup", 0, 0.5, "read"),
                _op("merge", 1, 4.0), _op("point_lookup", 1, 0.5, "read"),
                _op("merge", 2, 1.0), _op("vacuum", -1, 7.0, "vacuum")],
        "checks": [{"name": "table_equals_model", "ok": True, "detail": ""}],
        "tables": {},
    }

    def test_latency_is_the_geomean_of_per_name_geomeans(self):
        s = metrics.summary(self.rec)
        # merge: (1 * 4 * 1) ** (1/3); point_lookup: 0.5
        self.assertAlmostEqual(s["latency_s"], math.sqrt(4 ** (1 / 3) * 0.5))

    def test_throughput_per_cycle_of_one_operation_per_name(self):
        s = metrics.summary(self.rec)
        self.assertAlmostEqual(s["throughput_per_s"], 2 / (2.0 + 0.5))

    def test_setup_is_session_start_plus_median(self):
        self.assertAlmostEqual(metrics.summary(self.rec)["setup_s"], 5.0)

    def test_counts(self):
        s = metrics.summary(self.rec)
        self.assertEqual((s["operations"], s["attempted"], s["failed"]), (5, 9, 0))


if __name__ == "__main__":
    unittest.main()
