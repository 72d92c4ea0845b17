"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import numpy as np  # noqa: E402

import attribute  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_rung_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(1000)))[1:], (99.0, 1000))
        self.assertEqual(stats.tail(list(range(200)))[1:], (95.0, 200))
        # 199 * 5% = 9.95 samples beyond p95: one short, so p90
        self.assertEqual(stats.tail(list(range(199)))[1:], (90.0, 199))
        self.assertEqual(stats.tail(list(range(40)))[1:], (75.0, 40))
        self.assertEqual(stats.tail(list(range(20)))[1:], (50.0, 20))

    def test_at_least_ten_samples_lie_beyond_the_value(self):
        for n in (20, 39, 40, 99, 100, 150, 1000, 5000):
            xs = list(range(n))
            v, _, _ = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), stats.TAIL_BEYOND, n)

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail(list(range(19))), (18, 100.0, 19))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([0, 10], 50), 5)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 99), 99)


class OpenLoopTest(unittest.TestCase):
    def test_latency_runs_from_due_time(self):
        [r] = stats.open_loop([dict(due_ns=100, sub_ns=105, start_ns=108, end_ns=120)])
        self.assertEqual(r, dict(latency=20, late=5, queue=3, service=12))

    def test_generator_lateness_counts_in_latency(self):
        on_time, late = stats.open_loop([
            dict(due_ns=0, sub_ns=0, start_ns=0, end_ns=10),
            dict(due_ns=0, sub_ns=40, start_ns=40, end_ns=50)])
        self.assertEqual(on_time["service"], late["service"])
        self.assertEqual(late["latency"] - on_time["latency"], 40)
        self.assertEqual(late["late"], 40)

    def test_early_submission_is_not_negative_lateness(self):
        [r] = stats.open_loop([dict(due_ns=10, sub_ns=9, start_ns=12, end_ns=20)])
        self.assertEqual(r["late"], 0)
        self.assertEqual(r["latency"], 10)


def span(i, parent, t0, t1, layer="x"):
    return dict(id=i, parent=parent, t0_ns=t0, t1_ns=t1, layer=layer)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span("r", "", 0, 100), span("a", "r", 10, 30), span("b", "r", 40, 70),
                 span("c", "b", 45, 55)]
        self.assertEqual(stats.self_times(spans), dict(r=50, a=20, b=20, c=10))

    def test_self_times_sum_to_the_root(self):
        spans = [span("r", "", 0, 1000), span("a", "r", 0, 400), span("b", "a", 100, 300),
                 span("c", "r", 500, 900)]
        self.assertEqual(sum(stats.self_times(spans).values()), 1000)


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        # statistics.quantiles (exclusive): 2.75, 5.5, 8.25
        self.assertAlmostEqual(stats.spread(list(range(1, 11))), 1.0)
        self.assertEqual(stats.spread([5.0] * 10), 0.0)

    def test_spread_is_scale_free_and_order_free(self):
        xs = [9.5, 10.0, 10.2, 9.9, 10.1, 10.4, 9.7, 10.0, 10.3, 9.8]
        self.assertAlmostEqual(stats.spread(xs), stats.spread([x * 7 for x in reversed(xs)]))

    def test_worse_by_follows_direction(self):
        self.assertAlmostEqual(stats.worse_by([10, 10, 10], [11, 11, 11], "lower"), 0.1)
        self.assertAlmostEqual(stats.worse_by([10, 10, 10], [9, 9, 9], "higher"), 0.1)
        self.assertLess(stats.worse_by([10, 10, 10], [9, 9, 9], "lower"), 0)


class BatchCutsTest(unittest.TestCase):
    def test_pairs_line_up_after_the_warm_up_batch(self):
        cut = gen.batch_cuts(np.random.default_rng(3), 5)
        self.assertEqual(len(cut), 11)
        self.assertEqual(cut[0], 0.0)
        for i in range(1, 11, 2):
            self.assertNotEqual(cut[i], 0.0)
            self.assertAlmostEqual(cut[i] + cut[i + 1], 0.0)


class AttributeTest(unittest.TestCase):
    def rec(self, trace, seed, e2e=None, layers=None):
        return dict(workload="serve", seed=seed, trace=trace, end_to_end=e2e or {},
                    per_layer=layers or {})

    def test_deltas_per_layer_self_time_first(self):
        before = [self.rec(1, s, layers={"self_ms.plans": 10.0, "exec.jobs": 4}) for s in (1, 2)]
        after = [self.rec(1, s, layers={"self_ms.plans": 6.0, "exec.jobs": 2}) for s in (1, 2)]
        rows = attribute.attribute(before, after)
        self.assertEqual(rows[0], ("serve", "self_ms.plans", 10.0, 6.0, -4.0))
        self.assertEqual(rows[1], ("serve", "exec.jobs", 4, 2, -2))

    def test_overhead_pairs_same_seed(self):
        recs = [self.rec(0, 1, {"p50_ms": 100.0}), self.rec(1, 1, {"p50_ms": 110.0}),
                self.rec(0, 2, {"p50_ms": 200.0}), self.rec(1, 2, {"p50_ms": 220.0}),
                self.rec(1, 3, {"p50_ms": 999.0})]
        self.assertAlmostEqual(attribute.overhead(recs)["serve"]["p50_ms"], 1.1)


if __name__ == "__main__":
    unittest.main()
