"""Self-test of the benchmark's metric arithmetic.

    python3 -m unittest discover -s tickbench -p 'test_*.py'
"""
import statistics
import unittest

import metrics as mx


class PercentileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(mx.percentile(xs, 25), q1)
        self.assertAlmostEqual(mx.percentile(xs, 50), q2)
        self.assertAlmostEqual(mx.percentile(xs, 75), q3)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            mx.percentile([], 50)


class TailRuleTest(unittest.TestCase):
    """A tail percentile is reported only with >= 10 samples beyond it."""

    def test_samples_beyond(self):
        self.assertEqual(mx.samples_beyond(100, 90), 10)
        self.assertEqual(mx.samples_beyond(99, 90), 10)
        self.assertEqual(mx.samples_beyond(98, 90), 10)
        self.assertEqual(mx.samples_beyond(90, 90), 9)
        self.assertEqual(mx.samples_beyond(200, 95), 10)
        self.assertEqual(mx.samples_beyond(0, 50), 0)

    def test_beyond_counts_match_the_sorted_samples(self):
        for n in range(2, 400):
            for p in mx.TAIL_PERCENTILES:
                xs = list(range(n))
                cut = mx.percentile(xs, p)
                self.assertEqual(sum(x > cut for x in xs), mx.samples_beyond(n, p), (n, p))

    def test_highest_supported_percentile(self):
        self.assertEqual(mx.tail_percentile(1000), 99)
        self.assertEqual(mx.tail_percentile(200), 95)
        self.assertEqual(mx.tail_percentile(150), 90)
        self.assertEqual(mx.tail_percentile(60), 75)
        self.assertEqual(mx.tail_percentile(40), 75)
        self.assertIsNone(mx.tail_percentile(36))

    def test_summary_omits_an_unsupported_tail(self):
        s = mx.latency_summary([float(i) for i in range(30)])
        self.assertEqual(s["n"], 30)
        self.assertEqual(s["p50"], 14.5)
        self.assertIsNone(s["tail"])
        s = mx.latency_summary([float(i) for i in range(101)])
        self.assertEqual((s["tail_p"], s["tail"]), (90, 90.0))


class AccountingTest(unittest.TestCase):
    def test_error_rate_counts_every_failure_against_attempts(self):
        a = mx.Accounting()
        a.ops(100, 0, "reads")
        a.fail(2, "non-2xx or exception on read")
        a.fail(1, "wrong read answer", wrong_output=True)
        a.ops(4, 1, "failed POST")
        self.assertEqual((a.attempted, a.failed), (104, 4))
        self.assertAlmostEqual(a.error_rate, 4 / 104)
        self.assertFalse(a.correct)

    def test_refused_operations_fail_without_a_wrong_output(self):
        a = mx.Accounting()
        a.ops(50, 3, "non-2xx or exception on read")
        self.assertEqual(a.failed, 3)
        self.assertTrue(a.correct)

    def test_lost_acknowledged_points_are_failures(self):
        a = mx.Accounting()
        a.ops(10, 0, "reads")
        a.acked_points(140, 5)
        self.assertEqual(a.attempted, 150)
        self.assertEqual(a.failed, 5)
        self.assertEqual(a.causes, {"lost acknowledged points": 5})
        self.assertFalse(a.correct)
        self.assertAlmostEqual(a.error_rate, 5 / 150)

    def test_nothing_attempted_is_not_a_pass(self):
        self.assertEqual(mx.Accounting().error_rate, 1.0)


if __name__ == "__main__":
    unittest.main()
