#!/usr/bin/env python3
"""Checks of tools/timing.py's respread loop and Bench-file parser.

Usage: python3 tools/test_timing.py
"""
import json
import math
import os
import tempfile
import unittest

import timing


class FakeTimer:
    """Replays scripted (out, spread) results, one per call."""

    def __init__(self, *results):
        self.results = list(results)
        self.calls = []

    def __call__(self, queries):
        self.calls.append(list(queries))
        r = self.results.pop(0)
        if isinstance(r, BaseException):
            raise r
        return r


class RespreadTest(unittest.TestCase):
    def test_keeps_min_and_last_spread(self):
        out = {"a": 2.0, "b": 1.0}
        spread = {"a": 3.0, "b": 1.1}
        timer = FakeTimer(({"a": 2.5}, {"a": 1.2}))
        self.assertEqual(timing.respread("t", timer, out, spread), [])
        self.assertEqual(timer.calls, [["a"]])
        self.assertEqual(out, {"a": 2.0, "b": 1.0})
        self.assertEqual(spread, {"a": 1.2, "b": 1.1})

    def test_faster_remeasure_replaces_the_row(self):
        out, spread = {"a": 2.0}, {"a": 3.0}
        timing.respread("t", FakeTimer(({"a": 1.5}, {"a": 1.1})), out, spread)
        self.assertEqual((out["a"], spread["a"]), (1.5, 1.1))

    def test_leaves_nan_rows_alone(self):
        out = {"dnf": math.nan, "a": 1.0}
        spread = {"dnf": math.nan, "a": 1.0}
        timer = FakeTimer()
        self.assertEqual(timing.respread("t", timer, out, spread), [])
        self.assertEqual(timer.calls, [])
        self.assertTrue(math.isnan(out["dnf"]))

    def test_failed_remeasure_keeps_primary(self):
        out, spread = {"a": 2.0}, {"a": 3.0}
        timer = FakeTimer(SystemExit("spark timings failed"))
        self.assertEqual(timing.respread("t", timer, out, spread), ["a"])
        self.assertEqual((out["a"], spread["a"]), (2.0, 3.0))

    def test_nan_remeasure_keeps_primary(self):
        out, spread = {"a": 2.0}, {"a": 3.0}
        timer = FakeTimer(({"a": math.nan}, {"a": math.nan}),
                          ({"a": math.nan}, {"a": math.nan}))
        timing.respread("t", timer, out, spread)
        self.assertEqual((out["a"], spread["a"]), (2.0, 3.0))

    def test_reports_rows_still_over_the_bar(self):
        out = {"a": 2.0, "b": 3.0}
        spread = {"a": 3.0, "b": 2.0}
        timer = FakeTimer(({"a": 2.1, "b": 3.1}, {"a": 1.6, "b": 1.2}),
                          ({"a": 2.2}, {"a": 1.7}))
        self.assertEqual(timing.respread("t", timer, out, spread), ["a"])
        self.assertEqual(timer.calls, [["a", "b"], ["a"]])
        self.assertEqual(spread, {"a": 1.7, "b": 1.2})


class ReadBenchTest(unittest.TestCase):
    def test_failed_row_and_row_without_spread(self):
        bench = {"metric": "total", "value": 1.5,
                 "queries": {"q1": 1.5, "q2": -1.0, "q3": 0.2},
                 "spreads": {"q1": 1.25, "q2": 1.0}}
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "bench.json")
            with open(path, "w") as f:
                json.dump(bench, f)
            out, spread = timing.read_bench(path)
        self.assertEqual(out["q1"], 1.5)
        self.assertEqual(spread["q1"], 1.25)
        # -1 is a failure: NaN, never a timing, and no spread with it
        self.assertTrue(math.isnan(out["q2"]) and math.isnan(spread["q2"]))
        self.assertEqual(out["q3"], 0.2)
        self.assertTrue(math.isnan(spread["q3"]))


if __name__ == "__main__":
    unittest.main()
