"""Unit tests of the benchmark's reporting rules (no Spark needed).

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def op(kind="derive", s=1.0, digest="10:7", error=""):
    return {"kind": kind, "s": s, "digest": digest, "error": error,
            "scratch_mb": 1.0, "heap_mb": 100.0, "traced": False}


class TailPercentile(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail_percentile([1.0] * 10))
        self.assertIsNotNone(stats.tail_percentile([1.0] * 11))

    def test_known_sizes(self):
        xs = [float(i) for i in range(1, 41)]
        self.assertEqual(stats.tail_percentile(xs), (75, 30.0))
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90)

    def test_at_least_ten_beyond_and_highest(self):
        for n in range(11, 300):
            xs = list(range(n))
            p, v = stats.tail_percentile(xs)
            rank = v + 1
            self.assertGreaterEqual(n - rank, 10, n)
            # one percentile higher would leave fewer than ten beyond
            if p < 100:
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)

    def test_ignores_input_order(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 5
        self.assertEqual(stats.tail_percentile(xs),
                         stats.tail_percentile(sorted(xs)))


class FailureAccounting(unittest.TestCase):
    def test_exception_counts_as_failed(self):
        ops = [op(), op(error="java.lang.IllegalStateException: injected",
                        digest=""), op()]
        self.assertEqual(stats.account(ops, "10:7", True), (3, 1))

    def test_perturbed_output_fails_digest_check(self):
        ops = [op(), op(digest="10:8"), op(digest="11:7")]
        self.assertEqual(stats.account(ops, "10:7", True), (3, 2))

    def test_cycles_pass_on_ok(self):
        ops = [op("cycle", digest="ok"), op("reorg", digest="ok"),
               op("cycle", digest="", error="watermark 5 after drop ending at 9"),
               op("serve")]
        self.assertEqual(stats.account(ops, "10:7", True), (4, 1))

    def test_oracle_mismatch_fails_every_operation(self):
        self.assertEqual(stats.account([op(), op()], "10:7", False), (2, 2))

    def test_warmup_is_not_attempted(self):
        ops = [op("warmup", error="boom"), op()]
        self.assertEqual(stats.account(ops, "10:7", True), (1, 0))


class EndToEnd(unittest.TestCase):
    def raw(self, ops, workload="ingest_full"):
        return {"workload": workload, "ops": ops, "session_s": 4.0,
                "setup_reps_s": [3.0, 1.0, 2.0]}

    def test_batch_wall_is_the_mean_of_the_first_three(self):
        ops = [op(s=20.0), op(s=12.0), op(s=13.0), op(s=1.0)]
        m = stats.end_to_end(self.raw(ops), "10:7")
        self.assertEqual(m["wall_s"], 15.0)
        self.assertEqual(m["setup_s"], 6.0)

    def test_cycle_wall_is_the_median_of_passing_cycles(self):
        ops = [op("cycle", s=1.0, digest="ok"), op("cycle", s=3.0, digest="ok"),
               op("cycle", s=0.1, digest="", error="boom"),
               op("reorg", s=9.0, digest="ok"), op("serve", s=20.0)]
        for o in ops[:4]:
            o["heap_mb"] = -1.0
        m = stats.end_to_end(self.raw(ops, "ingest_cycle"), "10:7")
        self.assertEqual(m["wall_s"], 2.0)
        self.assertEqual(m["heap_peak_mb"], 100.0)


if __name__ == "__main__":
    unittest.main()
