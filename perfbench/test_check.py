"""Tests that the benchmark counts a wrong or failed op as failed.

    python3 perfbench/test_check.py
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

WORDCOUNT_SQL = ("SELECT word, count(*) AS cnt FROM (SELECT unnest("
                 "string_split(text, ' ')) AS word FROM documents) GROUP BY word")


class CheckTest(unittest.TestCase):
    """Drives run.check over a result laid out as the benchmark JVM writes it."""

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.dir.name, "data")
        self.verify = os.path.join(self.dir.name, "verify")
        os.makedirs(self.data)
        os.makedirs(os.path.join(self.verify, "wordcount"))
        pq.write_table(pa.table({"doc_id": [0, 1], "text": ["a b a", "b c"]}),
                       os.path.join(self.data, "documents.parquet"))
        with open(os.path.join(self.verify, "oracle_sql.json"), "w") as f:
            json.dump({"wordcount": WORDCOUNT_SQL}, f)

    def tearDown(self):
        self.dir.cleanup()

    def run_check(self, words, counts, errors=()):
        pq.write_table(pa.table({"word": words, "cnt": counts}),
                       os.path.join(self.verify, "wordcount", "part-0.parquet"))
        res = {"verify": self.verify, "checked": 1, "errors": list(errors)}
        return run.check(res, self.data)

    def test_right_result_passes(self):
        self.assertEqual(self.run_check(["a", "b", "c"], [2, 2, 1]), [])

    def test_wrong_value_fails(self):
        failures = self.run_check(["a", "b", "c"], [2, 2, 2])
        self.assertEqual(len(failures), 1)
        self.assertIn("hash mismatch", failures[0])

    def test_missing_row_fails(self):
        failures = self.run_check(["a", "b"], [2, 2])
        self.assertEqual(len(failures), 1)
        self.assertIn("row count", failures[0])

    def test_wrong_type_fails(self):
        failures = self.run_check(["a", "b", "c"], [2.0, 2.0, 1.0])
        self.assertEqual(len(failures), 1)
        self.assertIn("dtype", failures[0])

    def test_missing_result_fails(self):
        os.rmdir(os.path.join(self.verify, "wordcount"))
        failures = run.check({"verify": self.verify, "checked": 1, "errors": []}, self.data)
        self.assertEqual(len(failures), 1)
        self.assertIn("no result", failures[0])

    def test_exception_counts_as_failed(self):
        failures = self.run_check(["a", "b", "c"], [2, 2, 1],
                                  errors=["pass 1 op pmi: java.lang.RuntimeException"])
        self.assertEqual(failures, ["pass 1 op pmi: java.lang.RuntimeException"])


if __name__ == "__main__":
    unittest.main()
