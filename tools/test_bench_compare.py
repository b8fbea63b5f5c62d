#!/usr/bin/env python3
"""Checks of tools/bench_compare.py's job-count report.

Usage: python3 tools/test_bench_compare.py
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

import bench_compare


def bench(queries, job_counts=None, value=None):
    d = {"metric": "total", "value": value if value is not None else sum(queries.values()),
         "queries": queries, "runs": 3}
    if job_counts is not None:
        d["job_counts"] = job_counts
    return d


class CompareTest(unittest.TestCase):
    def run_compare(self, old, new, *args):
        with tempfile.TemporaryDirectory() as tmp:
            paths = []
            for i, d in enumerate((old, new)):
                p = os.path.join(tmp, f"b{i}.json")
                with open(p, "w") as f:
                    json.dump(d, f)
                paths.append(p)
            out = io.StringIO()
            argv = sys.argv
            sys.argv = ["bench_compare.py", *paths, *args]
            try:
                with contextlib.redirect_stdout(out):
                    rc = bench_compare.main()
            finally:
                sys.argv = argv
            return rc, out.getvalue().splitlines()

    def test_job_totals_and_changed_queries(self):
        q = {"q01": 1.0, "q02": 1.0, "q03": 1.0}
        rc, lines = self.run_compare(
            bench(q, {"q01": 3, "q02": 5, "q03": 2}),
            bench(q, {"q01": 2, "q02": 5, "q03": 1}))
        self.assertEqual(rc, 0)
        self.assertIn("jobs: 10 -> 8", lines)
        jobs = [l.split() for l in lines if l.startswith("JOBS ")]
        self.assertEqual(jobs, [["JOBS", "q01", "3", "->", "2"],
                                ["JOBS", "q03", "2", "->", "1"]])

    def test_no_job_lines_unless_both_files_carry_counts(self):
        q = {"q01": 1.0}
        for old, new in ((bench(q), bench(q, {"q01": 2})),
                         (bench(q, {"q01": 2}), bench(q))):
            rc, lines = self.run_compare(old, new)
            self.assertEqual(rc, 0)
            self.assertFalse([l for l in lines if l.startswith(("jobs:", "JOBS "))])

    def test_job_counts_never_change_the_exit_status(self):
        q = {"q01": 1.0}
        rc, lines = self.run_compare(bench(q, {"q01": 1}), bench(q, {"q01": 40}))
        self.assertEqual(rc, 0)
        self.assertIn("jobs: 1 -> 40", lines)
        rc, lines = self.run_compare(bench(q, {"q01": 1}),
                                     bench({"q01": 3.0}, {"q01": 1}))
        self.assertEqual(rc, 1)
        self.assertIn("jobs: 1 -> 1", lines)
        self.assertFalse([l for l in lines if l.startswith("JOBS ")])


if __name__ == "__main__":
    unittest.main()
