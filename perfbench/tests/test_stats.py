"""Self-tests for the benchmark's statistics:

    python3 -m unittest discover -s perfbench/tests
"""

import json
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileSupport(unittest.TestCase):

    def test_p90_refused_below_100_samples(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertFalse(stats.supports(99, 90))

    def test_p90_reported_at_100_samples(self):
        self.assertTrue(stats.supports(100, 90))
        self.assertAlmostEqual(stats.percentile(list(range(100)), 90), 89.1)

    def test_median_needs_20_samples(self):
        self.assertIsNone(stats.percentile([1.0] * 19, 50))
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10.5)

    def test_every_reported_percentile_has_ten_beyond(self):
        for n in range(1, 400):
            for p in (50, 90, 99):
                if stats.supports(n, p):
                    beyond = sum(1 for i in range(n) if i > (n - 1) * p / 100.0)
                    self.assertGreaterEqual(beyond, stats.MIN_BEYOND, (n, p))


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class SelfTimes(unittest.TestCase):

    def test_nested_spans(self):
        # root 0..100 holds a 10..40 (which holds 20..30) and b 50..70
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 20, 30),
                 span(3, 0, 50, 70)]
        self.assertEqual(stats.self_times(spans), {0: 50, 1: 20, 2: 10, 3: 20})

    def test_self_times_add_up_to_the_root(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 20, 30),
                 span(3, 0, 50, 70)]
        self.assertEqual(sum(stats.self_times(spans).values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 80)]
        self.assertEqual(stats.self_times(spans)[0], 30)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130)]
        self.assertEqual(stats.self_times(spans)[0], 90)


def sample(req, status, body):
    return {"req": req, "status": status, "ms": 1.0, "body": body}


class ErrorRate(unittest.TestCase):

    expected = [{"result": {"List(1, 2)": 7}}, {"result": {"List(0)": 0.5}}]

    def counts(self, samples):
        return stats.outcomes(samples, self.expected, json.loads)

    def test_all_ok(self):
        c = self.counts([sample(0, 200, '{"result": {"List(1, 2)": 7}}'),
                         sample(1, 200, '{"result": {"List(0)": 0.500000000001}}')])
        self.assertEqual(c["ok"], 2)
        self.assertEqual(stats.error_rate(c), 0.0)

    def test_non200_timeout_and_wrong_each_fail(self):
        c = self.counts([sample(0, 200, '{"result": {"List(1, 2)": 7}}'),
                         sample(0, 503, '{"error": "Request timed out"}'),
                         sample(0, stats.TIMEOUT, ""),
                         sample(0, 200, '{"result": {"List(1, 2)": 8}}'),
                         sample(1, 200, '{"result": {"List(0)": 0.51}}'),
                         sample(1, 200, "not json")])
        self.assertEqual(c, {"ok": 1, "timeout": 1, "non200": 1, "wrong": 3})
        self.assertAlmostEqual(stats.error_rate(c), 5 / 6)

    def test_io_error_is_a_failure(self):
        c = self.counts([sample(0, stats.IO_ERROR, "java.net.ConnectException")])
        self.assertEqual(c["non200"], 1)

    def test_counts_compare_exactly(self):
        self.assertTrue(stats.matches(1234.0, 1234))
        self.assertFalse(stats.matches(1234.0000001, 1234))

    def test_doubles_compare_at_1e_8(self):
        self.assertTrue(stats.matches(100.0 + 1e-7, 100.0))
        self.assertFalse(stats.matches(100.0 + 1e-5, 100.0))
        self.assertTrue(stats.matches(math.nan, math.nan))

    def test_missing_or_extra_keys_are_wrong(self):
        self.assertFalse(stats.matches({"a": 1}, {"a": 1, "b": 2}))
        self.assertFalse(stats.matches({"a": 1, "b": 2}, {"a": 1}))
        self.assertFalse(stats.matches([1], [1, 2]))


if __name__ == "__main__":
    unittest.main()
