"""Tests of the benchmark's own accounting.

    python3 -m unittest discover -s joinbench -p 'test_*.py'

The end-to-end test (a wrong result injected into a real run) starts a
JVM and takes about a minute; it runs when JOINBENCH_E2E=1.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import run


def result(walls, bad=()):
    """A result file: walls[p] lists the query times of pass p; `bad`
    holds the (pass, query index) executions whose check failed."""
    execs = [{"pass": p, "query": f"q{i}", "wall_s": w, "ok": (p, i) not in bad,
              "error": "mismatch" if (p, i) in bad else None, "span": -1,
              "block_peak_mb": 0.0}
             for p, ws in enumerate(walls) for i, w in enumerate(ws)]
    return {"execs": execs, "launch_us": 0, "first_query_us": 9_000_000,
            "peak_rss_mb": 900.0, "warm_passes": len(walls) - 1, "seed": 7}


class EndToEnd(unittest.TestCase):
    def test_all_ok(self):
        m, info, attempted, failed = run.end_to_end(result([[2, 2]] + [[1, 1]] * 6))
        self.assertEqual((attempted, failed), (14, 0))
        self.assertEqual(m["ok_frac"], 1.0)
        self.assertEqual(m["first_pass_s"], 4)
        self.assertEqual(m["warm_pass_s"], 2)
        self.assertEqual(m["setup_s"], 9.0)  # launch to the first timed query

    def test_wrong_result_lowers_ok_frac_and_leaves_the_timings(self):
        walls = [[2, 2]] + [[1.0, 1.0]] * 5 + [[0.01, 1.0]]
        m, _, attempted, failed = run.end_to_end(result(walls, bad={(6, 0)}))
        self.assertEqual((attempted, failed), (14, 1))
        self.assertAlmostEqual(m["ok_frac"], 13 / 14)
        # the fast wrong execution is in no timing: not in the pass medians,
        # not among the per-query samples
        self.assertEqual(m["warm_pass_s"], 2.0)
        self.assertEqual(m["query_p50_s"], 1.0)
        ok_samples = run.end_to_end(result(walls, bad={(6, 0)}))[1]["query_tail_samples"]
        self.assertEqual(ok_samples, 11)

    def test_failed_cold_pass_has_no_first_pass_time(self):
        m, _, _, failed = run.end_to_end(result([[2, 2]] + [[1, 1]] * 6, bad={(0, 1)}))
        self.assertEqual(failed, 1)
        self.assertIsNone(m["first_pass_s"])


class Tail(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertEqual(run.tail(range(10)), (None, None))

    def test_ten_samples_beyond(self):
        for n in (11, 12, 18, 24, 30, 57, 100, 1000):
            xs = list(range(n))
            p, v = run.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # the next whole percentile would leave fewer than ten beyond
            idx = max(1, ((p + 1) * n + 99) // 100)
            self.assertLess(n - idx, 10, n)

    def test_values(self):
        self.assertEqual(run.tail(range(11)), (9, 0))
        self.assertEqual(run.tail(range(30)), (66, 19))


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(run.union([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(run.union([]), 0)

    def test_clip(self):
        self.assertEqual(run.clip([(0, 10), (12, 13)], 2, 11), [(2, 10)])


class Oracle(unittest.TestCase):
    """The registry_mix check: cold-pass rows against a DuckDB oracle."""

    def setUp(self):
        import duckdb
        self.dir = tempfile.mkdtemp()
        self.sf = os.path.join(self.dir, "sf")
        self.results = os.path.join(self.dir, "results")
        os.makedirs(self.sf)
        con = duckdb.connect()
        con.sql(f"COPY (SELECT range AS k, range % 3 AS g FROM range(30)) "
                f"TO '{self.sf}/t.parquet' (FORMAT PARQUET)")
        # two query outputs: one right, one with a row missing
        for name, where in (("right", ""), ("wrong", "WHERE g <> 2 OR k < 27")):
            os.makedirs(os.path.join(self.results, name))
            con.sql(f"COPY (SELECT g, count(*) AS n FROM '{self.sf}/t.parquet' {where} "
                    f"GROUP BY g ORDER BY g DESC) "
                    f"TO '{self.results}/{name}/part-0.parquet' (FORMAT PARQUET)")

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_order_free_match_and_mismatch(self):
        sql = "SELECT count(*) AS n, g FROM t GROUP BY g"
        failed = run.oracle_check({"sf_dir": self.sf, "results_dir": self.results,
                                   "oracle": {"right": sql, "wrong": sql}})
        self.assertEqual(set(failed), {"wrong"})
        self.assertIn("sorted row", failed["wrong"])

    def test_broken_oracle_fails_the_query(self):
        failed = run.oracle_check({"sf_dir": self.sf, "results_dir": self.results,
                                   "oracle": {"right": "SELECT nope FROM t"}})
        self.assertIn("oracle:", failed["right"])


@unittest.skipUnless(os.environ.get("JOINBENCH_E2E") == "1", "starts a JVM; set JOINBENCH_E2E=1")
class Injected(unittest.TestCase):
    def test_injected_wrong_result_is_caught(self):
        here = os.path.dirname(os.path.abspath(__file__))
        p = subprocess.run([sys.executable, os.path.join(here, "run.py"),
                            "--workload", "join_skew", "--seed", "5", "--seconds", "1",
                            "--inject-wrong", "zipf1.sort_merge@2"],
                           stdout=subprocess.PIPE, text=True, check=True)
        out = json.loads(p.stdout.splitlines()[-1])
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertLess(out["metrics"]["ok_frac"]["value"], 1.0)
        self.assertIn("FAILED pass 2 zipf1.sort_merge", p.stdout)


if __name__ == "__main__":
    unittest.main()
