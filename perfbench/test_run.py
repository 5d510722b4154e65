#!/usr/bin/env python3
"""Tests for run.py's registry oracle gate: a dump that matches its
oracle passes and a corrupted one fails. Run: python3 perfbench/test_run.py"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class OracleGateTest(unittest.TestCase):
    def dumps(self, values):
        d = tempfile.mkdtemp(prefix="perfbench_dumps_")
        os.makedirs(os.path.join(d, "q"))
        pq.write_table(pa.table({"b": [str(v) for v in values], "a": values}),
                       os.path.join(d, "q", "part-0.parquet"))
        with open(os.path.join(d, "oracle_sql.json"), "w") as f:
            json.dump({"q": "SELECT * FROM (VALUES (1, '1'), (2, '2')) t(a, b)"}, f)
        return d

    def test_matching_dump_passes_in_any_row_and_column_order(self):
        self.assertEqual(run.oracle_failures(self.dumps([2, 1])), [])

    def test_corrupted_dump_fails(self):
        self.assertEqual(run.oracle_failures(self.dumps([1, 3])), ["q"])
        self.assertEqual(run.oracle_failures(self.dumps([1])), ["q"])

    def test_missing_dump_fails(self):
        d = self.dumps([1, 2])
        os.remove(os.path.join(d, "q", "part-0.parquet"))
        self.assertEqual(run.oracle_failures(d), ["q"])


if __name__ == "__main__":
    unittest.main()
