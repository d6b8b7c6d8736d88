"""Self-tests for the benchmark's arithmetic and oracle accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import lib  # noqa: E402


class CallLatencyTest(unittest.TestCase):
    def test_call_latency_scales_each_round_by_its_reference(self):
        # rounds the host slowed 2x have their reference slowed 2x as well
        p50 = [2.0] * 60 + [4.0] * 40 + [100.0]
        p99 = [30.0] * 60 + [60.0] * 40 + [900.0]
        ref = [lib.REF_US] * 60 + [2 * lib.REF_US] * 40 + [lib.REF_US]
        s = lib.call_latency(p50, p99, ref, 101 * 999)
        self.assertEqual(s, {"rounds": 101, "samples": 100899, "p50": 2.0, "p99": 30.0,
                             "raw_p50": 2.0, "raw_p99": 30.0})
        slowed = lib.call_latency([4.0] * 60 + [2.0] * 41, [60.0] * 60 + [30.0] * 41,
                                  [2 * lib.REF_US] * 60 + [lib.REF_US] * 41, 0)
        self.assertEqual((slowed["p50"], slowed["raw_p50"]), (2.0, 4.0))

    def test_call_latency_needs_every_round(self):
        for p50, p99, ref in (([], [], []), ([1.0] * 3, [2.0] * 2, [1.0] * 3), ([1.0], [2.0], [])):
            with self.assertRaises(ValueError):
                lib.call_latency(p50, p99, ref, 0)


def span(i, name, start, end, parent=0, run=1):
    return {"id": i, "name": name, "start_ns": start * 10**9, "end_ns": end * 10**9,
            "parent": parent, "run": run}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, "pass", 0, 10), span(2, "a", 1, 4, 1), span(3, "b", 3, 6, 1),
                 span(4, "c", 8, 9, 1), span(5, "a.inner", 2, 3, 2)]
        st = lib.self_times(spans)
        self.assertAlmostEqual(st[1], 10 - 5 - 1)  # children cover [1,6] and [8,9]
        self.assertAlmostEqual(st[2], 3 - 1)
        self.assertAlmostEqual(st[5], 1)

    def test_child_outside_parent_is_clipped(self):
        st = lib.self_times([span(1, "p", 0, 4), span(2, "c", 3, 7, 1)])
        self.assertAlmostEqual(st[1], 3)

    def test_by_name_is_median_over_runs_of_per_run_sums(self):
        spans = [span(1, "pass", 0, 4, run=1), span(2, "x", 0, 1, 1, run=1), span(3, "x", 1, 2, 1, run=1),
                 span(4, "pass", 10, 13, run=2), span(5, "x", 10, 11, 4, run=2),
                 span(6, "pass", 20, 30, run=3), span(7, "x", 20, 25, 6, run=3)]
        by = lib.self_time_by_name(spans)
        self.assertAlmostEqual(by["x"], 2.0)     # runs: 2, 1, 5
        self.assertAlmostEqual(by["pass"], 2.0)  # runs: 2, 2, 5


class OracleTallyTest(unittest.TestCase):
    expected = {"docs": 10, "pass": 8, "kw": {"pattern": 2}}

    def test_matching_passes_do_not_fail(self):
        passes = [{"summary": {"docs": 10, "pass": 8, "kw": {"pattern": 2}, "extra": 1}}] * 3
        self.assertEqual(lib.tally(passes, self.expected, {"suite": True}), (4, 0, []))

    def test_a_mismatch_raises_fail_share(self):
        passes = [{"summary": {"docs": 10, "pass": 8, "kw": {"pattern": 2}}},
                  {"summary": {"docs": 10, "pass": 8, "kw": {"pattern": 2, "enum": 1}}},
                  {"summary": {"error": "boom"}}]
        attempted, failed, reasons = lib.tally(passes, self.expected, {"suite": "3 wrong"})
        self.assertEqual((attempted, failed), (4, 3))
        self.assertIn("/kw/enum", reasons[0])
        self.assertIn("boom", reasons[1])
        self.assertIn("3 wrong", reasons[2])

    def test_missing_key_and_bool_are_mismatches(self):
        self.assertEqual(lib.differences({"a": True}, {"a": 1}), ["/a: True != 1"])
        self.assertEqual(lib.differences({"a": 1}, {}), ["/a: missing"])
        self.assertEqual(lib.differences({"a": 1.0}, {"a": 1}), [])


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        self.assertAlmostEqual(lib.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (8.25 - 2.75) / 5.5)


if __name__ == "__main__":
    unittest.main()
