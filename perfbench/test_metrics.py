"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import decimal
import unittest

import layers
import metrics as M


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))          # 100 samples
        self.assertEqual(M.tail(xs), (90, 90.0, 10))
        xs = list(range(1, 1001))         # 1000 samples: p99 leaves 10
        self.assertEqual(M.tail(xs), (990, 99.0, 10))

    def test_small_sets_fall_back_to_lower_percentiles(self):
        xs = [float(x) for x in range(40)]  # p90 leaves 4, p75 leaves 10
        self.assertEqual(M.tail(xs), (29.0, 75.0, 10))
        self.assertEqual(M.tail(range(60))[1:], (75.0, 15))
        # the median is never reported as a tail
        self.assertIsNone(M.tail(range(39)))
        self.assertIsNone(M.tail(range(10)))

    def test_order_of_samples_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 10
        self.assertEqual(M.tail(xs), M.tail(sorted(xs)))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_unioned_and_clipped(self):
        # parent [0, 10]; children overlap each other and spill past the end
        kids = [(1, 4), (3, 5), (8, 12)]
        self.assertEqual(M.covered(kids, 0, 10), 6)
        self.assertEqual(M.self_time(0, 10, kids), 4)

    def test_no_children_and_full_cover(self):
        self.assertEqual(M.self_time(2, 7, []), 5)
        self.assertEqual(M.self_time(2, 7, [(0, 9)]), 0)
        self.assertEqual(M.self_time(2, 7, [(8, 9), (0, 1)]), 5)

    def test_phase_spans_of_a_query(self):
        sample = {"name": "q", "start_ms": 0.0, "build_end_ms": 6.0,
                  "end_ms": 10.0, "error": None}
        jobs = [{"job": 1, "phase": "1/q/build", "start_ms": 1.0,
                 "end_ms": 3.0, "site": "graft.Tables$.apply(Tables.scala:20)",
                 "api": "org.apache.spark.sql.DataFrameReader.parquet"},
                {"job": 2, "phase": "1/q/action", "start_ms": 7.0,
                 "end_ms": 9.5, "site": "", "api": ""}]
        counters = {"1/q/build": {"jobs": 1}, "1/q/action": {"jobs": 1}}
        q, spans = layers.query_detail(1, sample, counters, jobs, [])
        self.assertAlmostEqual(q["phases"]["build"]["self_s"], 0.004)
        self.assertAlmostEqual(q["phases"]["action"]["self_s"], 0.0015)
        self.assertEqual(q["phases"]["build"]["read_jobs"], 1)
        self.assertEqual(q["phases"]["action"]["read_jobs"], 0)
        root = [s for s in spans if s["kind"] == "query"][0]
        self.assertEqual(root["self_ms"], 0.0)
        self.assertEqual({s["parent"] for s in spans if s["kind"] == "job"},
                         {"1/q/build", "1/q/action"})


class FailuresTest(unittest.TestCase):
    def setUp(self):
        self.good = M.digest(["a"], [(1,)])
        self.twins = {"ok": self.good, "wrong": self.good, "throws": self.good}

    def test_thrown_and_wrong_results_both_count(self):
        check = [("ok", None), ("wrong", None), ("throws", "boom")]
        actual = {"ok": self.good, "wrong": M.digest(["a"], [(2,)])}
        passes = [{"samples": [{"name": "ok", "error": None},
                               {"name": "wrong", "error": None},
                               {"name": "throws", "error": "boom"}]}]
        attempted, failed, why = M.failures(check, self.twins, actual, passes)
        self.assertEqual((attempted, failed), (6, 3))
        self.assertEqual(set(why), {"wrong", "throws"})
        self.assertTrue(why["wrong"].startswith("differs from twin"))
        self.assertTrue(why["throws"].startswith("threw"))

    def test_clean_run(self):
        check = [("ok", None)]
        passes = [{"samples": [{"name": "ok", "error": None}]}] * 3
        self.assertEqual(M.failures(check, self.twins, {"ok": self.good},
                                    passes), (4, 0, {}))

    def test_missing_twin_or_result_is_a_failure(self):
        _, failed, why = M.failures([("new", None), ("ok", None)],
                                    self.twins, {}, [])
        self.assertEqual(failed, 2)
        self.assertEqual(why["new"], "no twin digest")


class DigestTest(unittest.TestCase):
    def test_equal_values_of_different_types_agree(self):
        D = decimal.Decimal
        a = M.digest(["x", "y"], [(1, D("0.50")), (None, float("nan"))])
        b = M.digest(["y", "x"], [(0.5, 1.0), (float("nan"), None)])
        self.assertEqual(a, b)

    def test_row_order_and_values_matter(self):
        a = M.digest(["x"], [(1,), (2,)])
        self.assertNotEqual(a, M.digest(["x"], [(2,), (1,)]))
        self.assertNotEqual(a, M.digest(["x"], [(1,), (3,)]))
        self.assertNotEqual(M.digest(["x"], [("1",)]),
                            M.digest(["x"], [(1,)]))


if __name__ == "__main__":
    unittest.main()
