"""Tests of the benchmark's seeded inputs and summary statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import tempfile
import unittest
from pathlib import Path

import inputs
import stats


class SeededInputs(unittest.TestCase):
    @staticmethod
    def log_bytes(seed):
        with tempfile.TemporaryDirectory() as tmp:
            path = f"{tmp}/log.tsv"
            inputs.write_event_log(path, *inputs.event_log(seed, 3000, 1000, 3600, 1800))
            return Path(path).read_bytes() + Path(path + ".windows").read_bytes()

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.log_bytes(7), self.log_bytes(7))
        for names in inputs.QUERIES.values():
            self.assertEqual(inputs.query_order(names, 7), inputs.query_order(names, 7))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.log_bytes(7), self.log_bytes(8))
        for names in inputs.QUERIES.values():
            self.assertNotEqual(inputs.query_order(names, 7), inputs.query_order(names, 8))
            self.assertEqual(sorted(inputs.query_order(names, 8)), sorted(names))

    def test_event_log_shape(self):
        records, windows = inputs.event_log(3, 5000, 1000, 3600, 1800)
        ids = [i for _, i, _ in records if i >= 0]
        self.assertEqual(set(ids), set(range(5000)))
        self.assertGreater(len(ids), 5000)  # redeliveries
        self.assertTrue(any(i < 0 for _, i, _ in records))  # corrupt records
        self.assertEqual(sum(n for n, _ in windows.values()), len(ids))
        sched = [ms for ms, _, _ in records]
        self.assertEqual(sched, sorted(sched))

    def test_event_time_runs_scaled(self):
        # 5 s of schedule at 1800x is 2.5 event-time hours: 3 hour windows
        records, windows = inputs.event_log(4, 25000, 5000, 3600, 1800)
        starts = {int(k.split("|")[1]) for k in windows}
        self.assertEqual(len(starts), 3)
        self.assertTrue(all(s % 3600 == 0 for s in starts))
        # at the benchmark's rate a redelivery trails the newest event time
        # by less than the 5 minute window watermark, so the rollup never
        # drops it as late
        seen = set()
        for ms, i, _ in records:
            if i >= 0 and i in seen:
                newest = ms * 1800 / 1000
                self.assertLess(newest - i * 0.36, 300)
            seen.add(i)

    def test_tables_are_fixed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            inputs.warehouse(a, 0.001)
            inputs.warehouse(b, 0.001, only=("documents", "lineitem"))
            self.assertEqual(len(list(Path(a).iterdir())), 10)
            for t in ("documents", "lineitem"):
                self.assertTrue(filecmp.cmp(f"{a}/{t}.parquet", f"{b}/{t}.parquet", shallow=False))


class Stats(unittest.TestCase):
    def test_percentile(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5)
        self.assertAlmostEqual(stats.percentile(range(1, 101), 99), 99.01)
        self.assertEqual(stats.percentile([1, 2, 3], 0), 1)
        self.assertEqual(stats.percentile([1, 2, 3], 100), 3)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4)
        self.assertAlmostEqual(stats.geomean([2, 8]), 4)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])


if __name__ == "__main__":
    unittest.main()
