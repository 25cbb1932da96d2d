"""Tests for the oracle gate's verdicts: tools/check.py, tools/pinned_check.py
and the tools/scale_gate.py sweep, on tiny parquet tables (no sbt).

    python3 tools/test_gate.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, TOOLS)

DOCS = "SELECT doc_id FROM documents"
# runs far past any test timeout; the interrupt stops it within a second
SLOW = ("SELECT sum(a.range * b.range) AS doc_id FROM range(10000000) a, "
        "range(10000000) b")
# a plan DuckDB 1.0 keeps running after con.interrupt
DEAF = ("SELECT count(*) AS doc_id FROM range(100000000) a, "
        "range(100000000) b WHERE a.range * b.range = 7")
# an aggregate that cannot spill, far over a 16MB memory_limit
HUNGRY = "SELECT len(list(range)) AS doc_id FROM range(20000000)"
# an aggregate that spills well over 32 MiB under a 64MB memory_limit
SPILLING = ("SELECT count(*) AS doc_id FROM (SELECT s, count(*) FROM (SELECT "
            "range::VARCHAR || '-pad-pad-pad-pad' AS s FROM range(5000000)) "
            "GROUP BY s)")


class GateTest(unittest.TestCase):
    """A fixture dir per test: <d>/data holds the tables, <d>/work/verify_out
    the engine results and oracle_sql.json as graft.Verify lays them out."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        self.work = os.path.join(self.tmp.name, "work")
        self.out = os.path.join(self.work, "verify_out")
        os.makedirs(self.data)
        os.makedirs(self.out)
        pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a b", "c"]}),
                       os.path.join(self.data, "documents.parquet"))
        self.oracle, self.pinned = {}, {}

    def tearDown(self):
        self.tmp.cleanup()

    def result(self, name, sql, values, out=None, pinned=None):
        out = out or self.out
        os.makedirs(os.path.join(out, name))
        pq.write_table(pa.table({"doc_id": values}),
                       os.path.join(out, name, "part-0.parquet"))
        self.oracle[name] = sql
        if pinned:
            self.pinned[name] = pinned
        for f, d in (("oracle_sql.json", self.oracle),
                     ("pinned_oracle.json", self.pinned)):
            with open(os.path.join(out, f), "w") as fh:
                json.dump(d, fh)

    def run_tool(self, script, *args, env=None, pre=""):
        """Runs a gate script as its CLI does; `pre` is Python run first in
        the same interpreter (to fake the machine)."""
        code = (f"import os, runpy, sys\nsys.argv = {[script, *args]!r}\n"
                f"sys.path.insert(0, {TOOLS!r})\n{pre}\n"
                f"runpy.run_path({os.path.join(TOOLS, script)!r}, "
                "run_name='__main__')")
        p = subprocess.run([sys.executable, "-c", code], cwd=self.tmp.name,
                           env=dict(os.environ, **(env or {})),
                           capture_output=True, text=True, timeout=120)
        return p.returncode, p.stdout

    def check(self, *args, **kw):
        return self.run_tool("check.py", self.data, self.out, *args, **kw)

    # ---- check.py ----------------------------------------------------------
    def test_pass(self):
        self.result("q", DOCS, [2, 1])
        rc, out = self.check()
        self.assertEqual(rc, 0, out)
        self.assertIn("PASS  q (2 rows)", out)

    def test_dtype_drift_fails(self):
        self.result("q", DOCS, [2.0, 1.0])
        rc, out = self.check()
        self.assertEqual(rc, 1)
        self.assertIn("FAIL  q: arrow dtype drift", out)

    def test_row_count_fails(self):
        self.result("q", DOCS, [1])
        rc, out = self.check()
        self.assertEqual(rc, 1)
        self.assertIn("FAIL  q: row count", out)

    def test_parser_error_fails(self):
        self.result("q", "SELEC doc_id FROM documents", [1, 2])
        rc, out = self.check()
        self.assertEqual(rc, 1)
        self.assertIn("FAIL  q: oracle SQL error", out)

    def test_memory_limit_is_infeasible(self):
        self.result("q", HUNGRY, [20000000])
        rc, out = self.check(env={"GRAFT_CHECK_MEMLIMIT": "16MB"})
        self.assertEqual(rc, 1)
        self.assertIn("INFEASIBLE  q: OutOfMemoryException", out)
        self.assertIn("1 infeasible", out)

    def test_spill_cap_is_infeasible(self):
        # the filesystem reports 64 MiB free: the spill may take half
        tmpdir = os.path.join(self.tmp.name, "spill")
        pre = ("os.statvfs = lambda p: "
               "os.statvfs_result((4096, 4096, 1 << 20, 16384, 16384, 0, 0, "
               "0, 0, 255))")
        self.result("q", SPILLING, [5000000])
        env = {"GRAFT_CHECK_MEMLIMIT": "64MB", "GRAFT_CHECK_THREADS": "1",
               "GRAFT_CHECK_TMPDIR": tmpdir}
        self.assertEqual(self.check(env=env)[0], 0, "spills on a roomy disk")
        rc, out = self.check(env=env, pre=pre)
        self.assertEqual(rc, 1, out)
        self.assertIn("INFEASIBLE  q: OutOfMemoryException", out)
        self.assertIn("max_temp_directory_size", out)

    def test_disk_full_is_infeasible(self):
        import duckdb
        import check

        class DiskFull:
            def sql(self, _):
                raise duckdb.IOException('IO Error: Could not write file '
                                         '".tmp/duckdb_temp_storage-0.tmp": '
                                         "No space left on device")

            def interrupt(self):
                pass

        v, detail = check.verdict(DiskFull(), pa.table({"doc_id": [1]}), DOCS)
        self.assertEqual(v, "INFEASIBLE")
        self.assertIn("No space left on device", detail)

    def test_timeout_is_infeasible(self):
        import check
        with check.connect(self.data) as con:
            v, detail = check.verdict(con, pa.table({"doc_id": [0]}), SLOW, 1)
        self.assertEqual((v, detail),
                         ("INFEASIBLE", "oracle interrupted after its 1s timeout"))

    def test_models_dir_is_not_a_result(self):
        self.result("q", DOCS, [1, 2])
        os.makedirs(os.path.join(self.out, "_models", "ivf_cents"))
        pq.write_table(pa.table({"cell": [0]}), os.path.join(
            self.out, "_models", "ivf_cents", "part-0.parquet"))
        rc, out = self.check()
        self.assertEqual(rc, 0, out)
        self.assertNotIn("_models", out)
        self.assertIn("1 pass, 0 rows-only", out)

    def test_named_queries_only(self):
        self.result("q", DOCS, [1, 2])
        self.result("r", DOCS, [1])
        rc, out = self.check("q")
        self.assertEqual(rc, 0, out)
        self.assertNotIn("  r", out)

    # ---- pinned_check.py ---------------------------------------------------
    def test_cross_validation_timeout_never_reads_ok(self):
        self.result("q", SLOW, [1, 2], pinned={"kind": "sql", "sql": DOCS})
        rc, out = self.run_tool("pinned_check.py", self.data, self.out, "q",
                                "--cross-validate", "--timeout", "2")
        self.assertEqual(rc, 3, out)
        self.assertTrue(out.startswith("XVAL-SKIPPED q:"), out)
        self.assertNotIn("OK", out)

    # ---- scale_gate.py -----------------------------------------------------
    def sweep(self, *queries, env=None):
        js = os.path.join(self.tmp.name, "gate.json")
        rc, out = self.run_tool(
            "scale_gate.py", "t", self.data, "lbl", "--skip-verify",
            "--out-json", js, "--queries", ",".join(queries),
            env=dict({"GRAFT_SCALE_WORK": self.work,
                      "GRAFT_XVAL_SF": self.data}, **(env or {})))
        with open(js) as f:
            return rc, json.load(f)["summary"], out

    def test_sweep_passes(self):
        self.result("q", DOCS, [1, 2])
        self.assertEqual(self.sweep("q")[:2], (0, {"PASS": 1}))

    def test_sweep_oracle_infeasible_exits_nonzero(self):
        self.result("q", DOCS, [1, 2])
        self.result("slow", SLOW, [0])
        rc, summary, out = self.sweep(
            "q", "slow", env={"GRAFT_SCALE_ORACLE_TIMEOUT": "1"})
        self.assertEqual(rc, 1, out)
        self.assertEqual(summary, {"ORACLE-INFEASIBLE": 1, "PASS": 1})

    def test_sweep_kills_an_oracle_that_ignores_its_interrupt(self):
        self.result("deaf", DEAF, [0])
        rc, summary, out = self.sweep(
            "deaf", env={"GRAFT_SCALE_ORACLE_TIMEOUT": "1"})
        self.assertEqual(rc, 1, out)
        self.assertEqual(summary, {"ORACLE-INFEASIBLE": 1})
        self.assertIn("process killed", out)

    def test_sweep_xval_skipped_exits_nonzero(self):
        # the recipe runs at both scales; the committed oracle cannot run
        # under the memory limit at the cross-validation scale
        recipe = {"kind": "sql", "sql": DOCS}
        self.result("q", HUNGRY, [1, 2], pinned=recipe)
        self.oracle, self.pinned = {}, {}
        self.result("q", HUNGRY, [1, 2], pinned=recipe,
                    out=os.path.join(self.work, "xval_out"))
        rc, summary, out = self.sweep("q", env={"GRAFT_CHECK_MEMLIMIT": "16MB"})
        self.assertEqual(rc, 1, out)
        self.assertEqual(summary, {"XVAL-SKIPPED": 1})


if __name__ == "__main__":
    unittest.main()
