"""Unit tests for scripts/check.py, the local oracle compare.

Run: python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402


class CheckTest(unittest.TestCase):
    """A one-query Verify output: `q01_one` returns the single row a = 1."""

    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.out = os.path.join(tmp.name, "out")
        self.sf = os.path.join(tmp.name, "sf")
        os.makedirs(self.out)
        os.makedirs(self.sf)
        # check.py opens a view per fixture table; content is irrelevant
        for t in check.TABLES:
            pq.write_table(pa.table({"x": [1]}),
                           os.path.join(self.sf, f"{t}.parquet"))
        self.write_oracle({"q01_one": "SELECT 1 AS a"})
        pq.write_table(pa.table({"a": pa.array([1], pa.int64())}),
                       os.path.join(self.out, "q01_one"))

    def write_oracle(self, oracle):
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump(oracle, f)

    def run_check(self, *names):
        return subprocess.run(
            [sys.executable, os.path.join(HERE, "check.py"),
             self.out, self.sf, *names],
            capture_output=True, text=True)

    def test_matching_query_passes(self):
        r = self.run_check("q01_one")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("PASS q01_one", r.stdout)

    def test_unknown_name_fails(self):
        r = self.run_check("q99_typo")
        self.assertNotEqual(r.returncode, 0, r.stdout)
        self.assertIn("FAIL q99_typo", r.stdout)

    def test_unknown_name_fails_next_to_a_pass(self):
        r = self.run_check("q01_one", "q99_typo")
        self.assertNotEqual(r.returncode, 0, r.stdout)
        self.assertIn("PASS q01_one", r.stdout)
        self.assertIn("== 1 pass, 1 fail ==", r.stdout)

    def test_zero_compared_fails(self):
        self.write_oracle({})
        r = self.run_check()
        self.assertNotEqual(r.returncode, 0, r.stdout)
        self.assertIn("== 0 pass, 0 fail ==", r.stdout)


if __name__ == "__main__":
    unittest.main()
