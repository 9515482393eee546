"""Self-tests of the benchmark itself: seeded inputs are reproducible,
the correctness checks reject planted wrong answers, and the metric
arithmetic is right. Run with `python3 perfbench/run.py --selftest`
(which also runs the tracer's attribution self-test on the JVM).
"""
import glob
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TPCH = os.path.join(run.BUILD, "tpch-sf0.1")


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        gen.ensure_tpch(TPCH)
        cls.tmp = tempfile.mkdtemp(dir=run.BUILD)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                dirs = [os.path.join(self.tmp, f"{w}-{i}") for i in range(3)]
                gen.generate(w, 11, TPCH, dirs[0])
                gen.generate(w, 11, TPCH, dirs[1])
                gen.generate(w, 12, TPCH, dirs[2])
                self.assertEqual(gen.digest(dirs[0]), gen.digest(dirs[1]))
                self.assertNotEqual(gen.digest(dirs[0]), gen.digest(dirs[2]))


class Metrics(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(run.percentile([1, 2, 3, 4, 5], 0.5), 3)
        self.assertAlmostEqual(run.percentile(list(range(1, 11)), 0.9), 9.1)

    def test_spark_percentile_matches_interpolation(self):
        self.assertAlmostEqual(check._spark_percentile([4, 1, 3, 2], 0.25), 1.75)

    def test_write_amp_covers_passes_or_set_up(self):
        res = {"bytes_written": 30, "user_bytes": 10,
               "setup_bytes_written": 50, "setup_user_bytes": 5}
        self.assertEqual(run.write_amp(res), 3.0)
        self.assertEqual(run.write_amp(dict(res, bytes_written=0, user_bytes=0)), 10.0)

    def test_per_layer_totals_and_means(self):
        span = {"wall_ms": 10.0, "catalyst_ms": 1, "jobs": 2, "job_ms": 5,
                "task_ms": 8, "shuffle_bytes": 100, "gap_ms": 4.0, "fs_ops": 3,
                "records_read": 50}
        res = {"spans": [dict(span, name="sources.v2.read")] * 4,
               "pass_s": [2.0, 2.0], "rows_returned": 25, "counters": {}}
        closed = run.per_layer("table_scans", res, 1.0)
        batch = run.per_layer("notion_etl", res, 1.0)
        self.assertEqual(closed["sources.v2.read.wall_ms"][0], 10.0)   # mean per op
        self.assertEqual(batch["sources.v2.read.wall_ms"][0], 20.0)    # total per pass
        self.assertEqual(closed["sources.v2.rows_read_per_row"][0], 8.0)
        self.assertEqual(closed["trace_overhead"][0], 2.0)
        self.assertEqual(closed["operators.dedup.wall_ms"][0], 0.0)


class ChecksRejectWrongAnswers(unittest.TestCase):
    """Runs each workload briefly, keeps its outputs, checks they pass,
    then plants a wrong answer and checks that it is caught."""

    def run_kept(self, workload):
        code, _, result, run_dir = run.execute(workload, 5, 1, 0, keep=True)
        self.addCleanup(shutil.rmtree, run_dir, True)
        self.assertEqual(code, 0, f"{workload} failed or was judged incorrect")
        inp, out = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
        truth = json.load(open(os.path.join(inp, "truth.json")))
        self.assertEqual(check.check(workload, inp, out, truth), [])
        return inp, out, truth

    @staticmethod
    def rewrite_log(out, fn):
        path = os.path.join(out, "log.jsonl")
        recs = [json.loads(x) for x in open(path) if x.strip()]
        fn(recs)
        with open(path, "w") as f:
            f.write("".join(json.dumps(r) + "\n" for r in recs))

    @staticmethod
    def drop_row(parquet_dir):
        con = check._con()
        rows = con.execute(f"SELECT * FROM {check._pq(parquet_dir)}").arrow()
        for f in glob.glob(os.path.join(parquet_dir, "*.parquet")):
            os.remove(f)
        con.register("r", rows)
        con.execute(f"COPY (SELECT * FROM r LIMIT {max(0, rows.num_rows - 1)}) "
                    f"TO '{parquet_dir}/part-0.parquet' (FORMAT parquet)")

    def test_notion_etl(self):
        inp, out, truth = self.run_kept("notion_etl")
        for table in ("tables/StageOccupancy_Hourly", "tables/DimPlaybackFrame",
                      "corrections/head", "corrections/view"):
            with self.subTest(table=table):
                wrong = out + "-wrong"
                shutil.copytree(out, wrong, dirs_exist_ok=True)
                self.addCleanup(shutil.rmtree, wrong, True)
                self.drop_row(os.path.join(wrong, table))
                self.assertTrue(check.check("notion_etl", inp, wrong, truth))

    def test_table_commits(self):
        inp, out, truth = self.run_kept("table_commits")

        def bump(recs):
            r = next(x for x in recs if x["res"] and len(x["res"]) == 2
                     and not isinstance(x["res"][0], list))
            r["res"][1] += 1
        self.rewrite_log(out, bump)
        self.assertTrue(check.check("table_commits", inp, out, truth))

    def test_table_scans(self):
        inp, out, truth = self.run_kept("table_scans")

        def bump(recs):
            r = next(x for x in recs if isinstance(x["res"], list)
                     and not isinstance(x["res"][0], list))
            r["res"][0] += 1
        self.rewrite_log(out, bump)
        self.assertTrue(check.check("table_scans", inp, out, truth))

    def test_corpus_dedup(self):
        inp, out, truth = self.run_kept("corpus_dedup")
        self.drop_row(os.path.join(out, "good"))
        self.assertTrue(check.check("corpus_dedup", inp, out, truth))


if __name__ == "__main__":
    unittest.main()
