"""The percentile helper and the byte accounting of stats.py.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_no_tail_below_forty_samples(self):
        xs = list(range(39))
        self.assertIsNone(stats.tail_quantile(len(xs)))
        self.assertIsNone(stats.tail(xs, 0.75))

    def test_at_least_ten_samples_beyond(self):
        for n in range(40, 400):
            q = stats.tail_quantile(n)
            self.assertIsNotNone(q, n)
            self.assertGreaterEqual(stats.beyond(n, q), stats.MIN_BEYOND, n)
            # the next higher ladder percentile would leave fewer than ten
            higher = [p for p in stats.LADDER if p > q]
            if higher:
                self.assertLess(stats.beyond(n, min(higher)), stats.MIN_BEYOND, n)

    def test_tail_refuses_a_percentile_without_ten_beyond(self):
        xs = list(range(100))
        self.assertIsNone(stats.tail(xs, 0.95))  # 5 beyond
        self.assertEqual(stats.tail(xs, 0.9), 89)  # 10 beyond

    def test_tail_never_below_median(self):
        rng = random.Random(7)
        for _ in range(500):
            n = rng.randint(40, 300)
            xs = [rng.choice([rng.random(), rng.expovariate(1.0), 5.0]) for _ in range(n)]
            q = stats.tail_quantile(n)
            self.assertGreaterEqual(stats.tail(xs, q), stats.median(xs))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class BytesTest(unittest.TestCase):
    @staticmethod
    def result(ops, stored=3000, setup_in=1000):
        return {"ops": ops, "setup_s": 1.5, "wall_s": 2.5, "stored_bytes": stored,
                "setup_input_bytes": setup_in, "peak_rss_mb": 100.0}

    def test_written_and_stored_per_input_byte(self):
        ops = [{"k": "w", "ms": 1000.0, "in": 500, "bytes": 1500},
               {"k": "r", "ms": 100.0, "in": 0, "bytes": 0},
               {"k": "w", "ms": 1000.0, "in": 500, "bytes": 500}]
        m = stats.end_to_end(self.result(ops))
        self.assertEqual(m["written_per_input_byte"], 2.0)  # 2000 B written / 1000 B in
        self.assertEqual(m["stored_per_input_byte"], 1.5)  # 3000 B stored / (1000 + 1000) B in
        self.assertAlmostEqual(m["write_input_mb_per_s"], 0.0005)  # 1000 B in 2 s of writes
        self.assertAlmostEqual(m["ops_per_s"], 3 / 2.5)  # 3 ops in 2.5 s of timed wall time

    def test_reads_count_their_bytes_too(self):
        ops = [{"k": "w", "ms": 10.0, "in": 100, "bytes": 0},
               {"k": "r", "ms": 10.0, "in": 0, "bytes": 300}]
        self.assertEqual(stats.end_to_end(self.result(ops))["written_per_input_byte"], 3.0)


if __name__ == "__main__":
    unittest.main()
