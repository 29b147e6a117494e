"""Unit tests for the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics


def span(id, parent, start, end, layer="merge", name="merge", trace=1):
    return {"id": id, "parent": parent, "start": start, "end": end,
            "layer": layer, "name": name, "trace": trace}


class SelfTime(unittest.TestCase):
    def test_self_is_span_minus_covered_child_interval(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)]
        self.assertEqual(metrics.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_are_counted_once(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50)]
        self.assertEqual(metrics.self_times(spans)[1], 60)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(metrics.self_times(spans)[1], 90)

    def test_grandchildren_do_not_reduce_the_grandparent_twice(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 10, 50), span(3, 2, 20, 30)]
        self.assertEqual(metrics.self_times(spans), {1: 60, 2: 30, 3: 10})


class Tail(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, p, n = metrics.tail(xs)
        self.assertEqual((v, p, n), (90, 90.0, 100))  # p95 has only 5 beyond

    def test_two_hundred_samples_reach_p95(self):
        v, p, _ = metrics.tail(list(range(1, 201)))
        self.assertEqual((v, p), (190, 95.0))

    def test_forty_samples_give_p75(self):
        v, p, _ = metrics.tail(list(range(1, 41)))
        self.assertEqual((v, p), (30, 75.0))

    def test_too_few_samples_fall_back_to_the_median(self):
        v, p, n = metrics.tail([4.0, 1.0, 3.0])
        self.assertEqual((v, p, n), (3.0, 50.0, 3))

    def test_ties_at_the_percentile_are_not_beyond_it(self):
        xs = [1.0] * 50 + [2.0] * 9
        self.assertEqual(metrics.tail(xs)[1], 50.0)


class LagMapping(unittest.TestCase):
    def progress(self, q, batch, rows, end):
        return {"query": q, "batch": batch, "rows": rows, "end": end}

    def test_covering_batch_is_first_reaching_cumulative_rows(self):
        offers = [{"rows": 10, "due": 1000}, {"rows": 10, "due": 2000},
                  {"rows": 10, "due": 3000}]
        prog = [self.progress("a", 0, 5, 500),      # warm-up
                self.progress("a", 1, 20, 2600),    # covers offers 1 and 2
                self.progress("a", 2, 0, 2800),     # empty trigger: ignored
                self.progress("a", 3, 10, 3500)]
        lags = metrics.lag_map(offers, prog, ["a"], warmup_rows=5)
        self.assertEqual(lags, [1600, 600, 500])

    def test_lag_is_the_slowest_sink(self):
        offers = [{"rows": 4, "due": 0}]
        prog = [self.progress("a", 0, 4, 100), self.progress("b", 0, 4, 300)]
        self.assertEqual(metrics.lag_map(offers, prog, ["a", "b"], 0), [300])

    def test_uncovered_batch_has_no_lag(self):
        offers = [{"rows": 4, "due": 0}, {"rows": 4, "due": 10}]
        prog = [self.progress("a", 0, 4, 100), self.progress("b", 0, 8, 50)]
        self.assertEqual(metrics.lag_map(offers, prog, ["a", "b"], 0), [100, None])

    def test_progress_order_is_by_batch_id_not_arrival(self):
        offers = [{"rows": 1, "due": 0}, {"rows": 1, "due": 0}]
        prog = [self.progress("a", 1, 1, 200), self.progress("a", 0, 1, 100)]
        self.assertEqual(metrics.lag_map(offers, prog, ["a"], 0), [100, 200])


class Overhead(unittest.TestCase):
    def test_overhead_is_the_ratio_of_medians(self):
        self.assertAlmostEqual(metrics.overhead_pct([1.1, 1.2, 1.0], [1.0, 0.9, 1.1]), 10.0)

    def test_no_samples_on_either_side_reports_zero(self):
        self.assertEqual(metrics.overhead_pct([], [1.0]), 0.0)
        self.assertEqual(metrics.overhead_pct([1.0], []), 0.0)

    def test_tracing_faster_than_untraced_is_negative(self):
        self.assertAlmostEqual(metrics.overhead_pct([0.95], [1.0]), -5.0)


if __name__ == "__main__":
    unittest.main()
