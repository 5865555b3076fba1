"""Unit checks of the benchmark's accounting. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def poll(i, timed, land, commit, protect, alerts, rows=100):
    return {"poll": i, "timed": timed, "poll_s": commit - land, "protect_s": protect - land,
            "alerts": alerts, "rows": rows, "quiet": True}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)

    def test_p50_needs_twenty(self):
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.percentile(list(range(1, 21)), 0.5), 10)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 0.5))
        self.assertIsNone(metrics.median([]))


class ClosedLoopAccounting(unittest.TestCase):
    def res(self):
        return {"kind": "stream", "window_s": 2.0, "self_failed": 0, "polls": [
            poll(0, False, 0.0, 3.0, 5.0, 28),
            poll(1, True, 5.0, 5.5, 6.5, 4),
            poll(2, True, 6.5, 7.3, 7.9, 0),
            poll(3, True, 7.9, 8.5, 9.9, 2)]}

    def test_warm_polls_are_not_timed(self):
        lat, _ = metrics.poll_latencies(self.res())
        self.assertEqual(len(lat), 3)
        self.assertAlmostEqual(max(lat), 0.8)

    def test_protection_counts_alert_bearing_polls_only(self):
        _, protect = metrics.poll_latencies(self.res())
        self.assertEqual(len(protect), 2)
        self.assertAlmostEqual(sorted(protect)[0], 1.5)

    def test_flows_per_second_of_cycle_time(self):
        self.assertAlmostEqual(metrics.flows_per_s(self.res()), 300 / 4.9)

    def test_contended_polls_are_left_out_while_most_are_quiet(self):
        res = self.res()
        res["polls"][3]["quiet"] = False
        lat, protect = metrics.poll_latencies(res)
        self.assertEqual(len(lat), 2)
        self.assertEqual(len(protect), 1)
        res["polls"][2]["quiet"] = False
        self.assertEqual(len(metrics.poll_latencies(res)[0]), 3)

    def test_self_times_subtract_children(self):
        spans = [{"name": "poll", "op": 1, "parent": "", "start_ns": 0, "end_ns": 100},
                 {"name": "a", "op": 1, "parent": "poll", "start_ns": 10, "end_ns": 40},
                 {"name": "b", "op": 1, "parent": "poll", "start_ns": 30, "end_ns": 60},
                 {"name": "c", "op": 1, "parent": "a", "start_ns": 15, "end_ns": 20}]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["poll"], 50 / 1e6)
        self.assertAlmostEqual(st["a"], 25 / 1e6)
        self.assertAlmostEqual(st["b"], 30 / 1e6)


class MismatchCounting(unittest.TestCase):
    def test_stream_failures_are_failed_polls(self):
        res = ClosedLoopAccounting().res()
        res["self_failed"] = 1
        self.assertEqual(metrics.failures(res, []), (4, 1))

    def test_batch_counts_every_timed_call_of_a_mismatching_query(self):
        calls = [{"round": r, "timed": r > 0, "name": n, "layer": "queries", "s": 1.0}
                 for r in range(3) for n in ("q1", "q2", "detect")]
        res = {"kind": "batch", "calls": calls, "self_failed": 1}
        self.assertEqual(metrics.failures(res, []), (6, 1))
        self.assertEqual(metrics.failures(res, ["q2"]), (6, 3))

    def test_frames_equal_is_exact(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
        self.assertTrue(metrics.frames_equal(a, a.copy()))
        self.assertFalse(metrics.frames_equal(a, a.iloc[:1]))
        self.assertFalse(metrics.frames_equal(a, a.assign(y=["a", "c"])))


if __name__ == "__main__":
    unittest.main()
