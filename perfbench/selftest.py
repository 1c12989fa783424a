#!/usr/bin/env python3
"""Self-test of the benchmark's arithmetic and seed handling.

    python3 perfbench/selftest.py

Needs no build; the seed checks generate the `etl_migrate` inputs three times
(about 15 s).
"""
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import stats  # noqa: E402


class Arithmetic(unittest.TestCase):

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([5], 99.9), 5)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))
        self.assertEqual(stats.tail(list(range(1, 10001))), (99.9, 9990))
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10))
        self.assertIsNone(stats.tail(list(range(1, 20))))
        for n in (20, 37, 100, 512, 5000):
            p, v = stats.tail(list(range(n)))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10)

    def test_failure_share(self):
        self.assertEqual(stats.failure_share(0, 10), 0.0)
        self.assertEqual(stats.failure_share(3, 12), 0.25)
        self.assertEqual(stats.failure_share(4, 4), 1.0)
        for bad in ((1, 0), (5, 3), (-1, 3)):
            with self.assertRaises(ValueError):
                stats.failure_share(*bad)

    def test_parse_seed(self):
        self.assertEqual(stats.parse_seed("7"), 7)
        self.assertEqual(stats.parse_seed(str(2 ** 63 - 1)), 2 ** 63 - 1)
        for bad in ("-1", "x", str(2 ** 63)):
            with self.assertRaises(ValueError):
                stats.parse_seed(bad)

    def test_overhead_ratio_cancels_a_linear_warm_up(self):
        import run
        # untraced passes speed up linearly; tracing costs 10% of a pass
        warm = [{"index": i, "ms": 100.0 - 5 * i} for i in (3, 5, 7)]
        traced = [{"index": i, "ms": 1.1 * (100.0 - 5 * i)} for i in (4, 6)]
        ratios = run.overhead_ratios({"warm": warm, "traced_warm": traced})
        self.assertEqual(len(ratios), 2)
        for r in ratios:
            self.assertAlmostEqual(r, 1.1)


class Digests(unittest.TestCase):

    def test_digest_ignores_row_and_column_order_only(self):
        import pandas as pd
        import oracle
        a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
        b = pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]})
        c = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "w"]})
        self.assertEqual(oracle.digest(a), oracle.digest(b))
        self.assertNotEqual(oracle.digest(a), oracle.digest(c))
        self.assertEqual(oracle.digest(a)["rows"], 3)


class Seeds(unittest.TestCase):
    """The same seed gives the same inputs; another seed gives others."""

    def fingerprint(self, seed, out):
        import duckdb
        import etlgen
        con = duckdb.connect()
        expected, counts = etlgen.generate(con, os.path.join(BENCH, "corpus"), out, seed)
        fp = [counts, expected]
        for b in ("b1", "b2"):
            for t in ("customer", "orders", "lineitem"):
                fp.append(con.execute(
                    f"SELECT count(*), sum(hash(COLUMNS(*))) "
                    f"FROM read_parquet('{out}/{b}/src_{t}.parquet')").fetchall())
        return fp

    def test_seed_determines_inputs(self):
        with tempfile.TemporaryDirectory() as tmp:
            a = self.fingerprint(1, f"{tmp}/a")
            b = self.fingerprint(1, f"{tmp}/b")
            c = self.fingerprint(2, f"{tmp}/c")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        # every batch and the re-run must exist with its expected shape
        self.assertEqual(set(a[1]), {"batch1", "batch2", "batch2_rerun"})
        self.assertTrue(all(v == 0 for v in a[1]["batch2_rerun"].values()))


if __name__ == "__main__":
    unittest.main()
