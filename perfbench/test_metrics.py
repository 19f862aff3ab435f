"""Unit tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond_the_tail(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(30, 0, -1)]
        self.assertEqual(metrics.tail(xs), (20.0, 100.0 * 20 / 30, 30))

    def test_twenty_samples_is_the_median(self):
        self.assertEqual(metrics.tail(list(range(20))), (9, 50.0, 20))

    def test_fewer_than_twenty_samples_fall_back_to_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail(list(range(19))), (18, 100.0, 19))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (15, 20), (30, 35)]), 25)

    def test_union_ignores_empty_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 4), (7, 5)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_time_is_span_minus_job_cover(self):
        # span [0, 100): jobs cover [10, 40) and [30, 60) -> 50 ms busy
        self.assertEqual(metrics.driver_time(0, 100, [(10, 40), (30, 60)]), 50)

    def test_driver_time_clips_jobs_to_the_span(self):
        # a job that started before the span and one after it
        self.assertEqual(metrics.driver_time(100, 200, [(50, 120), (250, 300)]), 80)

    def test_driver_time_without_jobs_is_the_whole_span(self):
        self.assertEqual(metrics.driver_time(0, 7, []), 7)


class NameTest(unittest.TestCase):
    def test_charset(self):
        for ok in ["setup_s", "op_s.p50", "etl.stage_csv.driver_s", "a-b", "9x"]:
            self.assertTrue(metrics.check_name(ok), ok)
        for bad in ["", ".x", "_x", "a b", "a/b", "ops:bm25", "é", "x" * 65]:
            self.assertFalse(metrics.check_name(bad), bad)

    def test_every_declared_metric_name_is_valid(self):
        for w in metrics.SPANS:
            for name, _ in metrics.per_layer_names([w]):
                self.assertTrue(metrics.check_name(name), name)

    def test_benchmark_json_lists_the_printed_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], metrics.GATED)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         metrics.per_layer_names(metrics.GATED))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)


if __name__ == "__main__":
    unittest.main()
