"""Self-tests of the benchmark's own arithmetic, seeding and oracle.

    python3 -m unittest discover -s perfbench
"""
import math
import unittest

import duckdb
import numpy as np

import oracle
import queries
import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(reversed(xs), 99), 99)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertIsNone(stats.tail_percentile(39))

    def test_tail_choice_leaves_ten_beyond(self):
        for n in range(40, 3000, 7):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, (n, p))


class SelfTimeTest(unittest.TestCase):
    def span(self, s, e):
        return {"start": s, "end": e}

    def test_children_union_is_subtracted(self):
        parent = self.span(0, 10)
        kids = [self.span(1, 3), self.span(2, 5), self.span(8, 12)]
        # covered inside [0, 10): [1, 5) and [8, 10)
        self.assertAlmostEqual(stats.self_time(parent, kids), 4.0)

    def test_no_children_and_full_cover(self):
        self.assertAlmostEqual(stats.self_time(self.span(2, 7), []), 5.0)
        self.assertAlmostEqual(stats.self_time(self.span(2, 7), [self.span(0, 9)]), 0.0)

    def test_union_ignores_empty_intervals(self):
        self.assertAlmostEqual(stats.union_length([(3, 3), (5, 4), (0, 1)]), 1.0)


class SeedTest(unittest.TestCase):
    def test_tpch_stream_is_a_function_of_the_seed(self):
        a = queries.tpch_stream(np.random.default_rng([7, 2]), 6)
        b = queries.tpch_stream(np.random.default_rng([7, 2]), 6)
        c = queries.tpch_stream(np.random.default_rng([8, 2]), 6)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        n, sets = len(queries.TPCH), queries.TPCH_PARAM_SETS
        self.assertEqual(len(a), 6 * n)
        # every pass runs every query once, in its own order, with the
        # parameter sets in turn; the first pass of each set share group 0
        for k in range(6):
            ops = a[k * n:(k + 1) * n]
            self.assertEqual(sorted(op["id"].split(".")[0] for op in ops), sorted(queries.TPCH))
            self.assertEqual({op["group"] for op in ops}, {max(0, k - sets + 1)})
        texts = lambda k: sorted(op["sql"] for op in a[k * n:(k + 1) * n])
        self.assertEqual(len(set(texts(0) + texts(1))), 2 * n)
        self.assertEqual(texts(0), texts(sets))

    def test_delta_log_is_a_function_of_the_seed(self):
        def log(seed):
            dl = queries.DeltaLog(np.random.default_rng([seed, 1]), 500, 40)
            ops, batches = dl.ops(3)
            return dl.base, ops, batches
        base_a, ops_a, b_a = log(3)
        base_b, ops_b, b_b = log(3)
        _, ops_c, _ = log(4)
        self.assertTrue(base_a.equals(base_b))
        self.assertEqual(ops_a, ops_b)
        self.assertEqual(sorted(b_a), sorted(b_b))
        self.assertTrue(all(b_a[k].equals(b_b[k]) for k in b_a))
        self.assertNotEqual(ops_a, ops_c)
        # every round: each write kind once, the same reads of each kind
        for rnd in range(3):
            kinds = [op["kind"] for op in ops_a if op["group"] == rnd]
            self.assertEqual([k for k in kinds if k in queries.DELTA_ROUND], queries.DELTA_ROUND)
            for read in queries.DELTA_READS:
                self.assertEqual(kinds.count(read), queries.DELTA_READS_PER_KIND)

    def test_merge_batches_update_live_keys_only(self):
        dl = queries.DeltaLog(np.random.default_rng(5), 500, 40)
        ops, batches = dl.ops(2)
        merge = next(op for op in ops if op["kind"] == "merge")
        keys = batches[merge["id"]].select(queries.DELTA_KEYS).to_pylist()
        self.assertEqual(len(keys), len({(k["l_orderkey"], k["l_linenumber"]) for k in keys}))


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT i % 5 AS k, CAST(i AS DOUBLE) / 4 AS v, "
                         "CAST(DATE '1995-01-01' + CAST(i AS INTEGER) AS DATE) AS d "
                         "FROM range(40) r(i)")
        self.sql = "SELECT k, sum(v) AS s, min(d) AS d, count(*) AS n FROM t GROUP BY k"
        self.expected = self.con.execute(self.sql).fetchall()
        # the engine's form of the same answer: JSON values, another row order
        self.got = [[k, s, d.isoformat(), n] for k, s, d, n in reversed(self.expected)]

    def test_same_answer_in_another_order_passes(self):
        self.assertIsNone(oracle.compare(self.got, self.expected))

    def test_float_tolerance(self):
        near = [[k, s * (1 + 1e-12), d, n] for k, s, d, n in self.got]
        self.assertIsNone(oracle.compare(near, self.expected))

    def test_planted_wrong_row_is_caught(self):
        wrong = [list(r) for r in self.got]
        wrong[2][1] += 0.25
        self.assertIsNotNone(oracle.compare(wrong, self.expected))
        wrong = [list(r) for r in self.got]
        wrong[0][2] = "1995-01-02"
        self.assertIsNotNone(oracle.compare(wrong, self.expected))

    def test_missing_or_extra_row_is_caught(self):
        self.assertIsNotNone(oracle.compare(self.got[1:], self.expected))
        self.assertIsNotNone(oracle.compare(self.got + [self.got[0]], self.expected))

    def test_integers_compare_exactly_and_nan_matches_nan(self):
        self.assertIsNotNone(oracle.compare([[10 ** 17 + 1]], [(10 ** 17,)]))
        self.assertIsNone(oracle.compare([["NaN"]], [(math.nan,)]))
        self.assertIsNotNone(oracle.compare([[None]], [(0.0,)]))


if __name__ == "__main__":
    unittest.main()
