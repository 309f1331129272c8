"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)  # rank 90 of 100: 91..100 lie beyond
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        v, pct, n = stats.tail(xs)
        self.assertEqual(v, 2.0)  # 10 of 12 samples are beyond rank 2
        self.assertAlmostEqual(pct, 100.0 * 2 / 12)

    def test_smallest_qualifying_sample_count(self):
        v, pct, n = stats.tail(list(range(11)))
        self.assertEqual((v, n), (0, 11))

    def test_too_few_samples_fall_back_to_median(self):
        v, pct, n = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, pct, n), (2.0, 50.0, 3))


class DriverGap(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # jobs [10,40] and [30,60] overlap: union 50 ms; [80,90] adds 10
        jobs = [(10, 40), (30, 60), (80, 90)]
        self.assertEqual(stats.union_ms(jobs), 60)
        self.assertEqual(stats.driver_gap_ms(100, jobs), 40)

    def test_nested_and_unsorted(self):
        jobs = [(50, 70), (0, 100), (20, 30)]
        self.assertEqual(stats.driver_gap_ms(120, jobs), 20)

    def test_jobs_clipped_to_op_window(self):
        self.assertEqual(stats.driver_gap_ms(100, [(-20, 10), (95, 130)]), 85)

    def test_no_jobs(self):
        self.assertEqual(stats.driver_gap_ms(42.5, []), 42.5)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "name": "ext.dedup", "startMs": 0, "endMs": 100, "parent": -1},
                 {"id": 1, "name": "sources.load", "startMs": 10, "endMs": 30, "parent": 0},
                 {"id": 2, "name": "sources.load", "startMs": 20, "endMs": 40, "parent": 0}]
        st = stats.self_times(spans)
        self.assertEqual(st, {0: 70, 1: 20, 2: 20})


class StoreBytes(unittest.TestCase):
    def test_known_directory(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "t", "fecha=1992-01-01"))
            for rel, n in [("t/fecha=1992-01-01/part-0.parquet", 1000),
                           ("t/_SUCCESS", 0), ("t/.part-0.parquet.crc", 16),
                           ("idx/comps/part-1.parquet", 984)]:
                p = os.path.join(d, rel)
                os.makedirs(os.path.dirname(p), exist_ok=True)
                with open(p, "wb") as f:
                    f.write(b"x" * n)
            self.assertEqual(stats.dir_bytes(os.path.join(d, "t")), 1016)
            self.assertEqual(stats.dir_bytes(os.path.join(d, "missing")), 0)
            ratio = stats.store_ratio([os.path.join(d, "t"), os.path.join(d, "idx")], 500)
            self.assertEqual(ratio, 4.0)


if __name__ == "__main__":
    unittest.main()
