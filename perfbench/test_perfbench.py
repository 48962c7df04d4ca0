"""Tests of the benchmark's Python side: summary helpers, failure
accounting, oracle comparisons, input generation and BENCHMARK.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import statistics
import sys
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
TMP = os.path.join(ROOT, run.BUILD, "selftest-py")


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.median(xs), 3.0)
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 201))  # 200 samples
        pct, val = stats.tail(xs)
        self.assertEqual(pct, 95)
        self.assertEqual(sum(1 for x in xs if x > val), 10)
        pct, val = stats.tail(list(range(40)))
        self.assertEqual((pct, sum(1 for x in range(40) if x > val)), (75, 10))

    def test_tail_needs_more_than_ten_samples(self):
        self.assertEqual(stats.tail(list(range(10))), (None, None))
        self.assertEqual(stats.tail(list(range(11))), (9, 0))

    def test_summary_reports_count(self):
        s = stats.summary([1.0, 2.0, 3.0])
        self.assertEqual((s["n"], s["p50"], s["tail"]), (3, 2.0, None))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)


def op(cls, ms, ok=True, inst=0, err="ERROR 1146"):
    return {"cls": cls, "inst": inst, "start_ms": 0.0, "ms": ms,
            "ok": ok, "err": None if ok else err}


class TallyTest(unittest.TestCase):
    def test_failing_statement_and_wrong_answer_count_as_failed(self):
        res = {"ops": [op("point_pk", 10.0), op("point_pk", 12.0),
                       op("point_kv", 900.0, ok=False),  # ERR packet
                       op("point_kv", 11.0, ok=False,    # wrong answer
                          err="kv key 3: expected Some(x), got Vector()")]}
        attempted, failed, samples = run.tally(res)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(samples, {"point_pk": [10.0, 12.0]})

    def test_failed_checks_outside_the_window_count(self):
        res = {"ops": [op("p99", 5.0), op("insert_pk", 3.0, ok=False)]}
        attempted, failed, samples = run.tally(res, wrong_entries={"p99"},
                                               check_failures=1)
        self.assertEqual((attempted, failed), (3, 3))
        self.assertEqual(samples, {})

    def test_end_to_end_metrics(self):
        res = {"spark_s": 5.0, "setup": {"load_s": 4.0, "warm_s": 2.0},
               "window_s": 2.0, "window_cpu_ms": 50.0, "mem_live_mb": 100.0}
        samples = {"a": [1.0, 1.0, 1.0], "insert_pk": [100.0],
                   "delete_pk": [100.0, 90.0, 110.0], "optimize_pk": [5e3]}
        m = run.end_to_end(res, samples)
        self.assertEqual(m["setup_s"], 11.0)
        self.assertAlmostEqual(m["p50_geomean_ms"], 10.0)
        self.assertEqual(m["ops_per_s"], 4.0)
        self.assertAlmostEqual(m["cpu_ms_per_op"], 50.0 / 8)


class OracleTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)
        os.makedirs(TMP)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_entry_answer_across_part_files(self):
        con = duckdb.connect()
        exp = "SELECT i AS k, i * 0.5 AS v FROM range(6) t(i) ORDER BY k"
        good = os.path.join(TMP, "good")
        bad = os.path.join(TMP, "bad")
        for d in (good, bad):
            os.makedirs(d)
        # an ordered answer split over part files, listed in name order
        for n, lo in (("part-00001.parquet", 3), ("part-00000.parquet", 0)):
            con.execute("COPY (SELECT i AS k, i * 0.5 AS v FROM range(%d, %d)"
                        " t(i) ORDER BY k) TO '%s' (FORMAT parquet)"
                        % (lo, lo + 3, os.path.join(good, n)))
        # one wrong value: an injected wrong answer
        con.execute("COPY (SELECT i AS k, CASE WHEN i = 4 THEN 9.0 ELSE "
                    "i * 0.5 END AS v FROM range(6) t(i) ORDER BY k) TO '%s' "
                    "(FORMAT parquet)" % os.path.join(bad, "part-0.parquet"))
        verdict = oracle.check_entries(con, [
            {"name": "good", "path": good, "oracle": exp},
            {"name": "bad", "path": bad, "oracle": exp},
            {"name": "threw", "path": bad, "err": "boom", "oracle": exp}])
        con.close()
        self.assertIsNone(verdict["good"])
        self.assertIn("v[4]", verdict["bad"])
        self.assertIn("boom", verdict["threw"])

    def test_dml_replay_detects_a_lost_write(self):
        datagen.generate(5, TMP, ["orders"], scale=0.001)
        log = ["insert into ord values (1000001, 7, 'N', 12.50, '5-LOW')",
               "update ord set o_totalprice = 3.25, o_orderstatus = 'U' "
               "where o_orderkey in (3, 4)",
               "delete from ord where o_orderkey in (5, 7)",
               "insert into kvt values (1000001, 'n1')",
               "update kvt set v = 'u1' where k in (2)",
               "delete from kvt where k in (9, 11)"]
        src = os.path.join(TMP, "orders.parquet")
        con = duckdb.connect()
        final = {}
        for t, sql in oracle.DML_INIT.items():
            con.execute("CREATE TABLE %s AS %s" % (t, sql % src))
        for stmt in log:
            con.execute(stmt)
        for t in ("ord", "kvt"):
            d = os.path.join(TMP, "final_" + t)
            os.makedirs(d)
            con.execute("COPY %s TO '%s/part-0.parquet' (FORMAT parquet)"
                        % (t, d))
            final[t] = d
        con.close()
        self.assertIsNone(oracle.check_dml(TMP, log, final))
        lost = log[:-1]  # the engine "forgot" the kvt delete
        self.assertIn("kvt", oracle.check_dml(TMP, lost, final))


class InputsTest(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_same_seed_same_files_other_seed_other_files(self):
        paths = [os.path.join(TMP, d) for d in ("a", "b", "c")]
        for p, seed in zip(paths, (1, 1, 2)):
            datagen.generate(seed, p, ["orders", "documents"], scale=0.01)

        def read(p):
            with open(os.path.join(p, "documents.parquet"), "rb") as f:
                return f.read()
        self.assertEqual(read(paths[0]), read(paths[1]))
        self.assertNotEqual(read(paths[0]), read(paths[2]))


class SpecTest(unittest.TestCase):
    def test_benchmark_json_follows_the_contract(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(set(spec), {"command", "paths", "run_seconds",
                                     "workloads", "end_to_end", "per_layer"})
        self.assertLessEqual({w["name"] for w in spec["workloads"]},
                             set(run.WORKLOADS))
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in spec[k]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"]))
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in spec["end_to_end"])},
                      spec["end_to_end"])


if __name__ == "__main__":
    unittest.main()
