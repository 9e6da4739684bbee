#!/usr/bin/env python3
"""Tests of the launcher's bookkeeping. Run: python3 perfbench/test_run.py"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

SPEC = {"end_to_end": [{"name": n, "unit": "frac"} for n in
                       ("ops_ok_frac", "outputs_ok_frac", "recall", "pass_s")],
        "per_layer": [{"name": "manifest.busy_s", "unit": "s"},
                      {"name": "etl_s", "unit": "s"}]}


def result(attempted, failed):
    return {"attempted": str(attempted), "failed": str(failed),
            "metrics": {"pass_s": 2.5, "manifest.busy_s": 1.5},
            "named": {"etl_s": 3.0}}


class Summarize(unittest.TestCase):

    def test_throwing_operation_counts_as_failed(self):
        checks = [{"name": "a", "ok": True, "expected": 4, "matched": 4}]
        attempted, failed, m = run.summarize(result(9, 1), checks, 0, SPEC)
        self.assertEqual((attempted, failed), (10, 1))
        self.assertAlmostEqual(m["ops_ok_frac"]["value"], 0.9)
        self.assertEqual(m["outputs_ok_frac"]["value"], 1.0)

    def test_mismatch_is_a_failed_operation(self):
        checks = [{"name": "a", "ok": True, "expected": 4, "matched": 4},
                  {"name": "b", "ok": False, "expected": 6, "matched": 3}]
        attempted, failed, m = run.summarize(result(8, 0), checks, 0, SPEC)
        self.assertEqual((attempted, failed), (10, 1))
        self.assertEqual(m["outputs_ok_frac"]["value"], 0.5)
        self.assertAlmostEqual(m["recall"]["value"], 0.7)

    def test_traced_run_reports_per_layer_metrics(self):
        _, _, m = run.summarize(result(1, 0), [], 1, SPEC)
        self.assertEqual(set(m), {"manifest.busy_s", "etl_s"})
        self.assertEqual(m["etl_s"], {"value": 3.0, "unit": "s"})


class DuckCheck(unittest.TestCase):

    def test_oracle_compare_counts_matched_rows(self):
        import duckdb
        d = tempfile.mkdtemp()
        try:
            con = duckdb.connect()
            os.makedirs(f"{d}/got")
            con.execute(f"COPY (SELECT * FROM range(5) t(x)) TO '{d}/got/p.parquet'")
            p = {"name": "t", "got": f"{d}/got", "sql": "SELECT * FROM range(5) t(x)",
                 "tables": {}, "expected_rows": "-1"}
            self.assertEqual(run.duck_check(con, p), (True, 5, 5))
            p["sql"] = "SELECT * FROM range(1, 7) t(x)"
            self.assertEqual(run.duck_check(con, p), (False, 6, 4))
            p.update(sql="", expected_rows="5")
            self.assertEqual(run.duck_check(con, p), (True, 5, 5))
        finally:
            shutil.rmtree(d)

    def test_rounded_oracle_allows_one_unit_in_the_last_digit(self):
        import duckdb
        d = tempfile.mkdtemp()
        try:
            con = duckdb.connect()
            os.makedirs(f"{d}/got")
            con.execute(f"COPY (SELECT 1 AS k, 21298.102358::DOUBLE AS v) TO '{d}/got/p.parquet'")
            p = {"name": "t", "got": f"{d}/got",
                 "sql": "SELECT 1 AS k, ROUND(21298.1023574::DOUBLE, 6) AS v",
                 "tables": {}, "expected_rows": "-1"}
            self.assertEqual(run.duck_check(con, p), (True, 1, 1))
            p["sql"] = "SELECT 1 AS k, 21298.102357::DOUBLE AS v"
            self.assertEqual(run.duck_check(con, p), (False, 1, 0))
            p["sql"] = "SELECT 1 AS k, ROUND(21298.1023::DOUBLE, 6) AS v"
            self.assertEqual(run.duck_check(con, p), (False, 1, 0))
        finally:
            shutil.rmtree(d)


class Launcher(unittest.TestCase):

    def test_exits_nonzero_without_a_checkout(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            with open(os.path.join(d, "BENCHMARK.json"), "w") as f:
                json.dump({}, f)
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "lakehouse",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
