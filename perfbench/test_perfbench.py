"""Tests of the benchmark's own arithmetic and machinery.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The JVM test builds the engine like run.py does and takes about a minute.
"""
import json
import os
import shutil
import unittest

import run
import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile([7], 0.9), 7)

    def test_tail_needs_ten_beyond(self):
        self.assertTrue(stats.tail_ok(list(range(100)), 0.9))
        self.assertEqual(stats.beyond(list(range(100)), 0.9), 10)
        self.assertFalse(stats.tail_ok(list(range(99)), 0.9))
        self.assertFalse(stats.tail_ok([], 0.9))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 85 + [2.0] * 15
        self.assertEqual(stats.percentile(xs, 0.9), 2.0)
        self.assertEqual(stats.beyond(xs, 0.9), 0)
        self.assertFalse(stats.tail_ok(xs, 0.9))


class ParallelismTest(unittest.TestCase):
    def test_ratio(self):
        self.assertAlmostEqual(stats.parallelism(4.0, 1.0, 4), 1.0)
        self.assertAlmostEqual(stats.parallelism(1.0, 1.0, 4), 0.25)
        self.assertAlmostEqual(stats.parallelism(6.0, 2.0, 4), 0.75)

    def test_no_wall(self):
        self.assertEqual(stats.parallelism(1.0, 0.0, 4), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [
            (1, "query", "", 0, 100),
            (1, "construct", "query", 0, 40),
            (1, "optimize", "query", 40, 50),
            (1, "action", "query", 60, 100),
            (2, "query", "", 0, 10),
        ]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s["query"] * 1e9, 10 + 10)
        self.assertAlmostEqual(s["construct"] * 1e9, 40)
        self.assertAlmostEqual(s["action"] * 1e9, 40)

    def test_overlapping_children_count_once(self):
        spans = [(1, "query", "", 0, 100), (1, "a", "query", 0, 60), (1, "b", "query", 50, 80)]
        self.assertAlmostEqual(stats.self_times(spans)["query"] * 1e9, 20)


class JudgeTest(unittest.TestCase):
    def test_mismatch_and_error_count_as_failed(self):
        def ex(q, rows, h, err=None):
            return {"query": q, "pass": 1, "rows": rows, "hash": h, "error": err}
        raw = {"warmup": [ex("a", 1, "9")],
               "passes": [{"execs": [ex("a", 1, "9"), ex("a", 1, "8"), ex("a", None, None, "boom"),
                                     ex("b", 2, "1")]}]}
        attempted, failed, warm_failed, details = run.judge(raw, {"a": {"rows": 1, "hash": "9"}})
        self.assertEqual((attempted, failed, warm_failed), (4, 3, 0))
        self.assertEqual(len(details), 3)


class JvmSelfTest(unittest.TestCase):
    """Digest laws on real rows, and per-query attribution under concurrency:
    two queries run at once must get the job, stage and task counts they get
    when run one after the other."""

    def test_selftest(self):
        jars = run.spark_jars()
        classes = run.build(jars)
        work = os.path.join(run.build_dir(), "work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "selftest.json")
        run.run_jvm(run.java_cmd(classes, jars, work), {
            "mode": "selftest", "data": run.FIXTURES, "out": out,
            "queries": "join_inner,agg_kmv", "cores": run.cores(), "work": work,
            "stage": os.path.join(run.build_dir(), "stage"),
        }, os.path.join(work, "selftest.log"), timeout=300)
        with open(out) as f:
            r = json.load(f)
        d = r["digest"]
        self.assertGreater(d["base_rows"], 0)
        for k in ("reordered_equal", "repartitioned_equal", "dropped_differs", "altered_differs"):
            self.assertTrue(d[k], k)
        for q, c in r["attribution"].items():
            self.assertGreater(c["serial"]["jobs"], 0, q)
            self.assertEqual(c["serial"], c["concurrent"], q)


if __name__ == "__main__":
    unittest.main()
