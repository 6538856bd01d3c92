"""Tests for the benchmark's own statistics. Run: python3 -m unittest
discover -s perfbench -p 'test_*.py'"""
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))            # 100 samples
        v, p = stats.tail(xs)
        self.assertEqual(v, 90)             # 91..100 lie beyond it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 90.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 6            # 30 samples, the 11th-largest is 4
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 4)

    def test_never_below_median_with_few_samples(self):
        for n in range(1, 25):
            xs = list(range(n))
            v, _ = stats.tail(xs)
            self.assertGreaterEqual(v, stats.median(xs))

    def test_empty(self):
        v, p = stats.tail([])
        self.assertNotEqual(v, v)           # NaN


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(0, 10), (1, 2), (3, 4)]), 10)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(stats.union_length([]), 0)

    def test_uncovered_clips_to_the_span(self):
        # a job that starts before the span and one that ends after it
        self.assertEqual(stats.uncovered(10, 20, [(5, 12), (18, 25)]), 6)
        self.assertEqual(stats.uncovered(10, 20, [(0, 5), (25, 30)]), 10)


def _export(spans, jobs=(), counters=None):
    return {"spans": [dict(zip(("id", "name", "trace", "parent", "start", "end"), s))
                      for s in spans],
            "jobs": [dict(zip(("id", "span", "start", "end"), j)) for j in jobs],
            "counters": counters or {}}


class SpanTest(unittest.TestCase):
    def test_self_time_excludes_overlapping_children(self):
        # parent 0..1000 ms; children 100..400 and 300..600 overlap
        sp = stats.Spans(_export([
            (0, "pipeline.deliver", "b1", -1, 0, 1000),
            (1, "state.get", "b1", 0, 100, 400),
            (2, "sinks.execute", "b1", 0, 300, 600)]))
        t = sp.totals(0)
        self.assertAlmostEqual(t["wall_s"], 1.0)
        self.assertAlmostEqual(t["self_s"], 0.5)

    def test_driver_gap_over_overlapping_jobs_of_span_and_children(self):
        sp = stats.Spans(_export(
            [(0, "storage.merge", "b1", -1, 0, 1000),
             (1, "inner", "b1", 0, 500, 900)],
            jobs=[(1, 0, 100, 300), (2, 0, 200, 400), (3, 1, 600, 700),
                  (4, 1, 950, 1200)]))
        t = sp.totals(0)
        # jobs cover 100..400, 600..700 and 950..1000 (clipped): 450 ms
        self.assertAlmostEqual(t["driver_gap_s"], 0.55)
        self.assertEqual(t["jobs"], 4)

    def test_per_trace_sums_calls_of_one_trace(self):
        sp = stats.Spans(_export([
            (0, "state.save", "b1", -1, 0, 100),
            (1, "state.save", "b1", -1, 200, 250),
            (2, "state.save", "b2", -1, 300, 310)],
            counters={"0": {"tasks": 2, "cpu_ns": 10, "task_ms": [1, 3]},
                      "1": {"tasks": 1, "cpu_ns": 5, "task_ms": [2]}}))
        rows = sorted(sp.per_trace("state.save"), key=lambda r: -r["calls"])
        self.assertEqual(rows[0]["calls"], 2)
        self.assertAlmostEqual(rows[0]["wall_s"], 0.15)
        self.assertEqual(rows[0]["tasks"], 3)
        self.assertEqual(rows[1]["calls"], 1)


if __name__ == "__main__":
    unittest.main()
