"""Tests for the benchmark's own logic on fixed inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import pandas as pd

import check
from check import selfcheck
import gen
import stats
import workloads


class TailPercentileTest(unittest.TestCase):
    def test_eleventh_largest_with_its_percentile(self):
        self.assertEqual(stats.tail(list(range(1, 33))), (22, 22 / 32))
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 0.9))  # p90 of 100

    def test_needs_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))
        self.assertEqual(stats.tail(list(range(11))), (0, 1 / 11))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 30
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([2.0, 8.0, 4.0]), 4.0)

    def test_rejects_empty_and_nonpositive(self):
        for bad in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                stats.geomean(bad)

    def test_per_op_medians_skip_errors(self):
        s = [{"op": "a", "lat_s": x, "error": ""} for x in (1.0, 3.0, 2.0)]
        s.append({"op": "a", "lat_s": 100.0, "error": "boom"})
        self.assertEqual(stats.per_op_medians(s), {"a": 2.0})


class AccountingTest(unittest.TestCase):
    def sample(self, op, digest, error=""):
        return {"op": op, "digest": digest, "error": error}

    def test_failed_wrong_and_unchecked_all_count(self):
        ref = {"a": "d1", "b": None}
        samples = [self.sample("a", "d1"), self.sample("a", "d2"),   # wrong digest
                   self.sample("a", "", "boom"),                     # raised
                   self.sample("b", "x"),                            # op failed its oracle
                   self.sample("c", "y")]                            # op never checked
        self.assertEqual(stats.account(samples, ref), (5, 4))
        self.assertAlmostEqual(stats.failed_frac(5, 4), 0.8)

    def test_clean_run(self):
        self.assertEqual(stats.account([self.sample("a", "d")] * 3, {"a": "d"}), (3, 0))
        self.assertEqual(stats.failed_frac(3, 0), 0.0)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)


class JobAttributionTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_s([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_s([(5, 6), (0, 10)]), 10)
        self.assertEqual(stats.union_s([]), 0.0)

    def test_overlapping_operations_keep_their_own_job_time(self):
        # two clients run at once: op 1's jobs overlap op 2's, and op 1 has
        # two overlapping jobs of its own, one fired while constructing
        jobs = [[0, 4000, 1, 1], [2000, 6000, 1, 0], [1000, 5000, 2, 0]]
        got = stats.job_time_per_op(jobs)
        self.assertEqual(got[1], (6.0, 4.0, 2))
        self.assertEqual(got[2], (4.0, 0.0, 1))
        # summed per operation, not the 6 s wall-clock union of all jobs
        self.assertEqual(sum(e for e, _, _ in got.values()), 10.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [
            {"name": "op", "id": 1, "parent": 0, "start_ns": 0, "end_ns": 10_000_000_000},
            {"name": "queries.construct", "id": 2, "parent": 1, "start_ns": 0, "end_ns": 2_000_000_000},
            {"name": "ctx.collect", "id": 3, "parent": 1, "start_ns": 2_000_000_000, "end_ns": 9_000_000_000},
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["op"], 1.0)
        self.assertAlmostEqual(got["queries"], 2.0)
        self.assertAlmostEqual(got["ctx"], 7.0)


class OracleCompareTest(unittest.TestCase):
    def test_float_tolerance_and_row_order(self):
        a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0]})
        b = pd.DataFrame({"v": [2.0005, 1.0], "k": ["y", "x"]})  # columns and rows permuted
        self.assertEqual(selfcheck.compare(a, b, ""), [])
        c = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.1]})
        self.assertEqual(len(selfcheck.compare(a, c, "")), 1)

    def test_shape_and_null_handling(self):
        a = pd.DataFrame({"k": ["x", None]})
        self.assertEqual(selfcheck.compare(a, pd.DataFrame({"k": [None, "x"]}), ""), [])
        self.assertIn("row count", selfcheck.compare(a, pd.DataFrame({"k": ["x"]}), "")[0])
        self.assertIn("columns", selfcheck.compare(a, pd.DataFrame({"j": ["x", None]}), "")[0])

    def test_timestamps_normalise_to_strings(self):
        a = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"])})
        b = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"]).astype("datetime64[ns]")})
        self.assertEqual(selfcheck.compare(a, b, ""), [])
        self.assertEqual(selfcheck.norm(a)["t"][0], "2024-01-01 00:00:01")

    def test_duckdb_round_trip(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, seed=3, sf=0.001, n_docs=50)
            con = check.connect(d, ["nation"])
            out = os.path.join(d, "res")
            os.makedirs(out)
            con.sql("SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1") \
               .df().to_parquet(os.path.join(out, "part-0.parquet"))
            self.assertEqual(check.oracle_check(
                con, out, "SELECT count(*) AS n, n_regionkey FROM nation GROUP BY 2"), [])
            self.assertNotEqual(check.oracle_check(
                con, out, "SELECT n_regionkey, count(*) + 1 AS n FROM nation GROUP BY 1"), [])


class GenerationTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(os.path.join(d, "a"), seed=7, sf=0.001, n_docs=200)
            gen.generate(os.path.join(d, "b"), seed=7, sf=0.001, n_docs=200)
            gen.generate(os.path.join(d, "c"), seed=8, sf=0.001, n_docs=200)
            self.assertEqual(gen.digest(os.path.join(d, "a")), gen.digest(os.path.join(d, "b")))
            self.assertNotEqual(gen.digest(os.path.join(d, "a")), gen.digest(os.path.join(d, "c")))

    def test_row_counts_follow_the_fixture(self):
        t = gen.tpch_tables(seed=1, sf=0.001)
        self.assertEqual(t["lineitem"].num_rows, 6000)
        self.assertEqual(t["orders"].num_rows, 1500)
        self.assertEqual(t["customer"].num_rows, 150)

    def test_corpus_mix(self):
        docs = gen.corpus_tables(seed=1, n_docs=4000)["documents"].to_pandas()
        share = docs["lang"].value_counts(normalize=True)
        for lang, p in gen.LANG_MIX.items():
            self.assertAlmostEqual(share[lang], p, delta=0.03)
        dup_share = 1 - docs["text"].nunique() / len(docs)
        self.assertAlmostEqual(dup_share, gen.EXACT_DUP_FRAC, delta=0.015)
        self.assertTrue((docs["n_chars"] == docs["text"].str.len()).all())

    def test_concurrent_ops_are_seeded_and_distinct(self):
        a, b = workloads.concurrent_ops(5), workloads.concurrent_ops(5)
        self.assertEqual(a, b)
        self.assertEqual(len({n for n, _ in a}), len(a))
        self.assertEqual(len({s for _, s in a}), len(a))
        self.assertNotEqual(a, workloads.concurrent_ops(6))


if __name__ == "__main__":
    unittest.main()
