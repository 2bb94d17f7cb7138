"""Unit tests for perfbench/metrics.py.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class UnionLength(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # two concurrent jobs, as in a query that runs jobs from two
        # threads: summing them would bill 9 ms inside a 6 ms window
        self.assertEqual(metrics.union_length([(0, 5), (2, 6)], 0, 6), 6)

    def test_disjoint_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 1), (3, 4), (3.5, 3.7)], 0, 10), 2)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)

    def test_open_job_runs_to_window_end(self):
        self.assertEqual(metrics.union_length([(7, -1), (8, None)], 0, 10), 3)

    def test_touching_intervals_merge(self):
        self.assertEqual(metrics.union_length([(0, 2), (2, 4)], 0, 4), 4)

    def test_driver_only_never_negative(self):
        rnd = random.Random(7)
        for _ in range(500):
            lo, hi = 0.0, rnd.uniform(1, 100)
            jobs = [(rnd.uniform(-10, 110), rnd.uniform(-10, 110)) for _ in range(rnd.randint(0, 30))]
            jobs = [(min(a, b), max(a, b)) for a, b in jobs]
            u = metrics.union_length(jobs, lo, hi)
            self.assertGreaterEqual(hi - lo - u, 0.0)
            self.assertGreaterEqual(u, max([0.0] + [min(e, hi) - max(s, lo) for s, e in jobs]))

    def test_driver_only_of_a_query(self):
        rec = {"listener": {"jobs": [[1, "1/q", 10, 40], [2, "1/q", 20, 60], [3, "1/other", 0, 100]],
                            "aggs": {}, "sql_starts": [15, 200], "progress": []}}
        q = {"tag": "1/q", "t": [0, 10, 12, 70, 100], "release_start": 90}
        got = metrics.per_query(rec, q)
        self.assertEqual(got["driver_only_ms"], 100 - 50)
        self.assertEqual(got["body_jobs"], 1)
        self.assertEqual(got["sql_executions"], 1)


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in range(11, 500, 3):
            xs = [float(i) for i in range(n)]
            random.Random(n).shuffle(xs)
            p, v = metrics.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > v), metrics.TAIL_BEYOND)
            self.assertAlmostEqual(p, 100.0 * (n - 10) / n)

    def test_forty_samples_give_p75(self):
        p, v = metrics.tail(list(range(1, 41)))
        self.assertEqual((p, v), (75.0, 30))

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail(list(range(10)))

    def test_quantile_matches_statistics(self):
        rnd = random.Random(3)
        xs = [rnd.random() for _ in range(57)]
        self.assertAlmostEqual(metrics.quantile(xs, 50), statistics.median(xs))
        q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(metrics.quantile(xs, 25), q1)
        self.assertAlmostEqual(metrics.quantile(xs, 75), q3)


class Failures(unittest.TestCase):
    def test_errors_and_hash_mismatches_count(self):
        rec = {"passes": [{"index": 0, "queries": [
                   {"name": "a", "error": None}, {"name": "b", "error": "boom"}]},
                          {"index": 1, "queries": [
                   {"name": "a", "error": None}, {"name": "b", "error": None}]}],
               "hashes": {"a": "1:x", "b": "2:y"}, "hash_errors": {}}
        attempted, failed, _ = metrics.failures(rec, {"a": "1:x", "b": "2:z"})
        self.assertEqual((attempted, failed), (6, 2))


class EndToEnd(unittest.TestCase):
    def test_settle_and_traced_passes_are_not_measured(self):
        def p(kind, idx, secs, traced=False):
            return {"kind": kind, "index": idx, "traced": traced, "start": 0.0,
                    "end": secs * 1000.0, "queries": [{"t": [0, 1, 2, 3, secs * 1000.0]}]}
        rec = {"ready_ms": 12000.0,
               "passes": [p("cold", 0, 9.0), p("settle", 1, 5.0), p("settle", 2, 4.0),
                          p("warm", 3, 2.0), p("warm", 4, 1.0, traced=True), p("warm", 5, 3.0),
                          p("warm", 6, 2.5)]}
        got, info = metrics.end_to_end(rec, 2000.0)
        self.assertEqual(got, {"setup_s": 10.0, "cold_pass_s": 9.0, "warm_pass_s": 2.5})
        self.assertEqual(info["warm_passes"], 3)


if __name__ == "__main__":
    unittest.main()
