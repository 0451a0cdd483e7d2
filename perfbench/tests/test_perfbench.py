"""Tests of the benchmark's own machinery. Run from the repository root:

  python3 -m unittest discover -s perfbench/tests
"""
import glob
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen      # noqa: E402
import oracle   # noqa: E402
import stats    # noqa: E402


def _digests(d):
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_files_other_seed_other_files(self):
        with tempfile.TemporaryDirectory() as t:
            for name, fn in gen.GENERATORS.items():
                a, b, c = (os.path.join(t, name, x) for x in "abc")
                fn(a, 7)
                fn(b, 7)
                fn(c, 8)
                da, db, dc = _digests(a), _digests(b), _digests(c)
                self.assertTrue(da, name)
                self.assertEqual(da, db, name)
                self.assertNotEqual(da, dc, name)

    def test_stream_is_seeded(self):
        self.assertEqual(gen.bi_stream(3, 50), gen.bi_stream(3, 50))
        self.assertNotEqual(gen.bi_stream(3, 50), gen.bi_stream(4, 50))


class CdcStream(unittest.TestCase):
    def test_stale_share_is_drawn_over_all_changes(self):
        p = gen.SIZES["cdc_upsert"]
        with tempfile.TemporaryDirectory() as t:
            gen.cdc(t, 5)
            seqs = [s for f in sorted(glob.glob(os.path.join(t, "batch_*.parquet")))
                    for s in pq.read_table(f).column("seq").to_pylist()]
        # in-order changes carry multiples of 10, late re-deliveries not
        stale = sum(1 for s in seqs if s % 10) / len(seqs)
        self.assertEqual(len(seqs), p["batches"] * p["batch_rows"])
        self.assertAlmostEqual(stale, p["stale_share"], delta=0.006)


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(1, 20))))
        self.assertIsNone(stats.tail(list(range(1, 40))))   # p75 leaves 9 beyond
        self.assertEqual(stats.tail(list(range(1, 41))), (75.0, 30))
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))
        self.assertEqual(stats.tail(list(range(1, 201))), (95.0, 190))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 95), 4)


class SelfTime(unittest.TestCase):
    def test_children_coverage_is_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 100.0},
            # two overlapping children cover [10, 50)
            {"id": 2, "parent": 1, "start_ms": 10.0, "end_ms": 40.0},
            {"id": 3, "parent": 1, "start_ms": 30.0, "end_ms": 50.0},
            # a child running past its parent's end counts only inside it
            {"id": 4, "parent": 1, "start_ms": 90.0, "end_ms": 120.0},
            {"id": 5, "parent": 2, "start_ms": 15.0, "end_ms": 20.0},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - 40 - 10)
        self.assertAlmostEqual(st[2], 30 - 5)
        self.assertAlmostEqual(st[3], 20)
        self.assertAlmostEqual(st[4], 30)
        self.assertAlmostEqual(st[5], 5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class ComparatorsRejectPerturbedResults(unittest.TestCase):
    def test_rows(self):
        want = [(1, "a", 10.5), (2, "b", 20.25)]
        self.assertIsNone(oracle.same_rows([[2, "b", 20.25 + 1e-12], [1, "a", 10.5]], want))
        self.assertIsNotNone(oracle.same_rows([[1, "a", 10.5], [2, "b", 20.26]], want))
        self.assertIsNotNone(oracle.same_rows([[1, "a", 10.5], [3, "b", 20.25]], want))
        self.assertIsNotNone(oracle.same_rows([[1, "a", 10.5]], want))

    def test_ordered_rows(self):
        want = [(1, "a", 10.5), (2, "b", 20.25)]
        self.assertIsNone(oracle.same_rows([[1, "a", 10.5], [2, "b", 20.25]], want, True))
        self.assertIsNotNone(oracle.same_rows([[2, "b", 20.25], [1, "a", 10.5]], want, True))

    def test_table_digest(self):
        con = oracle.connect()
        con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'x', 1.5), (2, 'y', 2.5)) v(a, b, c)")
        con.execute("CREATE TABLE u AS SELECT * FROM (VALUES (2, 'y', 2.5), (1, 'x', 1.5)) v(a, b, c)")
        con.execute("CREATE TABLE w AS SELECT * FROM (VALUES (2, 'y', 2.5), (1, 'x', 1.75)) v(a, b, c)")
        schema = [(r[0], r[1]) for r in con.execute("DESCRIBE t").fetchall()]
        d = oracle.table_digest(con, "t", schema)
        self.assertEqual(d, oracle.table_digest(con, "u", schema))
        self.assertNotEqual(d, oracle.table_digest(con, "w", schema))

    def test_cdc(self):
        expected = [{"row": [5, 7, "n7"], "count": 3, "sum_v": 12, "live_bytes": 0}]
        ok = {"batch": 0, "point": [[5, 7, "n7"]], "count": 3, "sum_v": 12}
        self.assertIsNone(oracle.check_cdc(expected, ok))
        self.assertIsNotNone(oracle.check_cdc(expected, dict(ok, sum_v=13)))
        self.assertIsNotNone(oracle.check_cdc(expected, dict(ok, point=[])))

    def test_curation(self):
        truth = {"gate_rejects": [9], "exact_groups": [[1, 4], [2, 6, 7]],
                 "near_clusters": [[3, 5, 8]], "recall_floor": 0.9}
        ok = {"rejected": [9], "exact_groups": [[1, 2], [2, 3]],
              "components": [[3, 3], [5, 3], [8, 3]]}
        self.assertIsNone(oracle.check_curation(truth, ok))
        self.assertIsNotNone(oracle.check_curation(truth, dict(ok, exact_groups=[[1, 2]])))
        self.assertIsNotNone(oracle.check_curation(truth, dict(ok, rejected=[])))
        self.assertIsNotNone(oracle.check_curation(
            truth, dict(ok, components=[[3, 3], [5, 3], [8, 8]])))


if __name__ == "__main__":
    unittest.main()
