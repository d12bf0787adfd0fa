"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest
import zipfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
import run
import stats


class TailPercentileTest(unittest.TestCase):
    def test_hundred_samples_give_p90_with_ten_beyond(self):
        xs = list(range(1, 101))
        p, v, n = stats.tail_percentile(xs)
        self.assertEqual((p, v, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_fewer_samples_lower_the_percentile(self):
        p, v, n = stats.tail_percentile(list(range(40)))
        self.assertEqual((p, n), (75, 40))
        self.assertEqual(sum(1 for x in range(40) if x > v), 10)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))
        self.assertEqual(stats.tail_percentile(list(range(11)))[2], 11)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(stats.tail_percentile(xs), stats.tail_percentile(sorted(xs)))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.union_length([(1, 4), (2, 6), (8, 9)]), 6)

    def test_children_clip_to_the_span(self):
        # child (8, 15) sticks out of the span (0, 10): only 2 units count
        self.assertEqual(stats.self_time((0, 10), [(2, 4), (3, 5), (8, 15)]), 5)

    def test_no_children(self):
        self.assertEqual(stats.self_time((3, 7), []), 4)

    def test_children_outside(self):
        self.assertEqual(stats.self_time((3, 7), [(0, 2), (8, 9)]), 4)


class IncrementGeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        rng = np.random.default_rng(7)
        n = 3000
        cls.ts = np.sort(rng.integers(0, 10 * gen.US_PER_DAY, n))
        cls.user = rng.integers(0, 40, n)

    def plan(self, seed):
        return gen.split_increments(self.ts, self.user, 8, seed)

    def test_same_seed_same_increments(self):
        a, b = self.plan(3), self.plan(3)
        self.assertEqual([x.tolist() for x in a], [x.tolist() for x in b])

    def test_other_seed_other_increments(self):
        a, b = self.plan(3), self.plan(4)
        self.assertNotEqual([x.tolist() for x in a], [x.tolist() for x in b])

    def test_every_event_lands_and_late_ones_stay_inside_the_watermark(self):
        incs = self.plan(5)
        landed = np.concatenate(incs)
        self.assertEqual(set(landed.tolist()), set(range(len(self.ts))))
        self.assertGreater(len(landed), len(self.ts))  # some re-deliveries
        max_before = -1
        for inc in incs:
            if max_before >= 0:
                # the watermark when this increment lands is at most
                # max_before - 2 h; every row is newer than that
                self.assertTrue((self.ts[inc] > max_before - 2 * 3600 * 10**6).all())
            max_before = max(max_before, int(self.ts[inc].max()))

    def test_increment_files(self):
        with tempfile.TemporaryDirectory() as d:
            ev = os.path.join(d, "events.parquet")
            pq.write_table(pa.table({
                "event_id": pa.array(np.arange(len(self.ts)), pa.int64()),
                "ts": pa.array(self.ts, pa.timestamp("us")),
                "user_id": pa.array(self.user, pa.int64())}), ev)
            a = gen.make_increments(ev, os.path.join(d, "a"), 6, 11)
            b = gen.make_increments(ev, os.path.join(d, "b"), 6, 11)
            self.assertEqual(a, b)
            for name in a:
                ta = pq.read_table(os.path.join(d, "a", f"{name}.parquet"))
                tb = pq.read_table(os.path.join(d, "b", f"{name}.parquet"))
                self.assertTrue(ta.equals(tb))


class OracleCheckTest(unittest.TestCase):
    def test_match_and_planted_mismatch(self):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                                     "r_name": ["A", "B", "C"]}),
                           os.path.join(d, "region.parquet"))
            good = os.path.join(d, "good")
            bad = os.path.join(d, "bad")
            os.makedirs(good)
            os.makedirs(bad)
            pq.write_table(pa.table({"r_name": ["A", "B", "C"],
                                     "k": pa.array([0, 1, 2], pa.int32())}),
                           os.path.join(good, "part-0.parquet"))
            pq.write_table(pa.table({"r_name": ["A", "X", "C"],
                                     "k": pa.array([0, 1, 2], pa.int32())}),
                           os.path.join(bad, "part-0.parquet"))
            sql = "SELECT r_regionkey AS k, r_name FROM region ORDER BY k"
            v = oracle.check_queries(d, {"q": sql}, {"q": [good, bad]})
            self.assertIsNone(v[good])
            self.assertIn("row 1", v[bad])

    def test_nan_equals_nan_and_columns_sorted(self):
        e = pd.DataFrame({"b": [float("nan")], "a": [1]})
        g = pd.DataFrame({"a": [1], "b": [float("nan")]})
        self.assertIsNone(oracle.compare(e, g))
        self.assertIsNotNone(oracle.compare(e, pd.DataFrame({"a": [2], "b": [1.0]})))


class StealTest(unittest.TestCase):
    def test_share_is_of_non_idle_ticks(self):
        # 400 ticks: 100 idle, 240 busy, 60 stolen -> 60 / 300
        t = {"total": 400, "idle": 100, "steal": 60}
        self.assertAlmostEqual(stats.steal_share(t), 0.2)
        self.assertAlmostEqual(stats.unstolen(10.0, t), 8.0)

    def test_no_steal_or_unknown_ticks_keep_wall_time(self):
        self.assertEqual(stats.unstolen(3.0, {"total": 400, "idle": 100, "steal": 0}), 3.0)
        self.assertEqual(stats.unstolen(3.0, {"total": -1, "idle": -1, "steal": -1}), 3.0)
        self.assertEqual(stats.unstolen(3.0, {"total": 50, "idle": 50, "steal": 0}), 3.0)


class ClassDirJarTest(unittest.TestCase):
    def test_directories_become_jars_and_jars_stay(self):
        with tempfile.TemporaryDirectory() as d:
            classes = os.path.join(d, "classes")
            os.makedirs(os.path.join(classes, "pkg"))
            with open(os.path.join(classes, "pkg", "A.class"), "wb") as f:
                f.write(b"\xca\xfe")
            lib = os.path.join(d, "lib.jar")
            with zipfile.ZipFile(lib, "w") as z:
                z.writestr("B.class", b"")
            cp = run.jar_class_dirs(os.pathsep.join([lib, classes]), os.path.join(d, "jars"))
            entries = cp.split(os.pathsep)
            self.assertEqual(entries[0], lib)
            self.assertTrue(entries[1].endswith(".jar"))
            with zipfile.ZipFile(entries[1]) as z:
                self.assertEqual(z.namelist(), ["pkg/A.class"])
                self.assertEqual(z.read("pkg/A.class"), b"\xca\xfe")


if __name__ == "__main__":
    unittest.main()
