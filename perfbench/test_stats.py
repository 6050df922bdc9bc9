"""Tests for the benchmark's own statistics and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import stats


class TailRule(unittest.TestCase):
    def test_tail_is_the_value_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_tail_ignores_order(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(stats.tail(xs)[0], 2)

    def test_tail_with_too_few_samples_is_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 0))
        self.assertEqual(stats.tail(list(range(10)))[0], 9)

    def test_tail_of_nothing(self):
        self.assertEqual(stats.tail([]), (None, None, 0))

    def test_thousand_samples_give_p99(self):
        value, pct, beyond = stats.tail(list(range(1000)))
        self.assertEqual((value, beyond), (989, 10))
        self.assertAlmostEqual(pct, 99.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 0, "parent": -1, "t0": 0, "t1": 100},
            {"id": 1, "parent": 0, "t0": 10, "t1": 40},
            {"id": 2, "parent": 0, "t0": 30, "t1": 60},  # overlaps child 1
            {"id": 3, "parent": 0, "t0": 80, "t1": 90},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - (50 + 10))
        self.assertEqual(st[1], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [
            {"id": 0, "parent": -1, "t0": 0, "t1": 50},
            {"id": 1, "parent": 0, "t0": 40, "t1": 70},  # async job outlives its caller
        ]
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_grandchildren_only_reduce_their_own_parent(self):
        spans = [
            {"id": 0, "parent": -1, "t0": 0, "t1": 100},
            {"id": 1, "parent": 0, "t0": 0, "t1": 50},
            {"id": 2, "parent": 1, "t0": 10, "t1": 20},
        ]
        st = stats.self_times(spans)
        self.assertEqual((st[0], st[1], st[2]), (50, 40, 10))

    def test_layer_self_sums_by_name(self):
        spans = [
            {"id": 0, "parent": -1, "name": "op.merge", "op": 0, "t0": 0, "t1": 100},
            {"id": 1, "parent": 0, "name": "ManifestTable.merge", "op": 0, "t0": 5, "t1": 95},
        ]
        jobs = stats.attach_jobs(spans, [{"op": 0, "t0": 20, "t1": 50}, {"op": 0, "t0": 40, "t1": 70}], 2)
        self.assertEqual([j["parent"] for j in jobs], [1, 1])
        by_layer = stats.layer_self_ns(spans + jobs)
        self.assertEqual(by_layer["bench"], 10)
        self.assertEqual(by_layer["ManifestTable"], 90 - 50)
        self.assertEqual(by_layer["spark.exec"], 30 + 30)

    def test_union(self):
        self.assertEqual(stats.union_ns([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ns([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(stats.union_ns([]), 0)


class KindMedians(unittest.TestCase):
    def test_geometric_mean_of_kind_medians(self):
        xs = [("lookup", 2), ("lookup", 2), ("lookup", 4), ("scan", 50), ("scan", 200)]
        # medians 2 and 125
        self.assertAlmostEqual(stats.kind_p50_gmean(xs), (2 * 125) ** 0.5)

    def test_does_not_move_with_the_mix(self):
        cycle = [("lookup", 10)] * 4 + [("scan", 1000)]
        one = stats.kind_p50_gmean(cycle)
        # the window ends after three more lookups, or after a scan
        self.assertAlmostEqual(stats.kind_p50_gmean(cycle + [("lookup", 10)] * 3), one)
        self.assertAlmostEqual(stats.kind_p50_gmean(cycle + [("scan", 1000)]), one)
        self.assertAlmostEqual(one, 100.0)

    def test_nothing(self):
        self.assertIsNone(stats.kind_p50_gmean([]))


class RunHistory(unittest.TestCase):
    def test_keyed_by_build_and_window(self):
        import run
        a = run.history_key("query", "ab" * 32, 12.0)
        self.assertEqual(a, run.history_key("query", "ab" * 32, 12))
        self.assertNotEqual(a, run.history_key("query", "cd" * 32, 12))
        self.assertNotEqual(a, run.history_key("query", "ab" * 32, 15))
        self.assertNotEqual(a, run.history_key("ingest", "ab" * 32, 12))


class Amplification(unittest.TestCase):
    def test_write_amp(self):
        self.assertAlmostEqual(stats.write_amp(3000, 1000), 3.0)
        self.assertIsNone(stats.write_amp(3000, 0))

    def test_space_amp(self):
        self.assertAlmostEqual(stats.space_amp(1500, 1000), 1.5)
        self.assertIsNone(stats.space_amp(1500, 0))


class Contention(unittest.TestCase):
    def test_next_slot_is_not_contended(self):
        self.assertFalse(stats.contended({"v": 8, "hb": 7}))

    def test_skipped_slot_is_contended(self):
        self.assertTrue(stats.contended({"v": 9, "hb": 7}))

    def test_no_op_commit_is_not_contended(self):
        self.assertFalse(stats.contended({"v": 7, "hb": 7}))

    def test_compaction_allows_one_slot_per_bin(self):
        self.assertFalse(stats.contended({"v": 10, "hb": 7, "bins": 3}))
        self.assertTrue(stats.contended({"v": 11, "hb": 7, "bins": 3}))
        self.assertFalse(stats.contended({"v": 9, "hb": 7, "bins": 0}))

    def test_missing_fields(self):
        self.assertFalse(stats.contended({"v": 9}))


class QueryOracle(unittest.TestCase):
    """A wrong result must fail the query check."""

    def setUp(self):
        import duckdb
        self.dir = tempfile.TemporaryDirectory()
        raw = self.dir.name
        os.makedirs(os.path.join(raw, "orders"))
        os.makedirs(os.path.join(raw, "lineitem"))
        con = duckdb.connect()
        con.execute(f"""COPY (SELECT i::BIGINT AS o_orderkey, (i % 7)::BIGINT AS o_custkey, 'O' AS o_orderstatus,
            (i * 100)::BIGINT AS o_totalprice, DATE '1995-01-01' + i::INTEGER AS o_orderdate,
            '1-URGENT' AS o_orderpriority, 1995 AS o_year FROM range(20) t(i))
            TO '{raw}/orders/part-0.parquet' (FORMAT PARQUET)""")
        con.execute(f"""COPY (SELECT (i // 4)::BIGINT AS l_orderkey, 1 AS l_linenumber, 1::BIGINT AS l_partkey,
            1::BIGINT AS l_suppkey, 2::BIGINT AS l_quantity, 500::BIGINT AS l_extendedprice, 3 AS l_discount,
            DATE '1995-02-01' + i::INTEGER AS l_shipdate, 'N' AS l_returnflag FROM range(40) t(i))
            TO '{raw}/lineitem/part-0.parquet' (FORMAT PARQUET)""")
        con.close()

    def tearDown(self):
        self.dir.cleanup()

    def op(self, i, digest):
        return {"id": i, "tpl": "lookup", "params": {"key": 3}, "digest": digest, "rows_out": 1}

    def test_right_and_wrong_digests(self):
        import oracle
        right, _ = oracle.digest([(3, 3, "O", 300, "1995-01-04", "1-URGENT")])
        wrong, _ = oracle.digest([(3, 3, "O", 301, "1995-01-04", "1-URGENT")])
        bad = oracle.check_ops(self.dir.name, [self.op(0, right), self.op(1, wrong)])
        self.assertEqual(list(bad), [1])

    def test_every_template_runs(self):
        import oracle
        reqs = [("lookup", {"key": 1}), ("range_scan", {"from": "1995-02-01", "to": "1995-02-10"}),
                ("partition_agg", {"year": 1995}), ("time_travel", {"batches": 1, "before": "1995-02-05"}),
                ("join_agg", {}), ("window_topn", {})]
        want = oracle.expected(self.dir.name, reqs)
        self.assertEqual(len(want), len(reqs))
        self.assertEqual(want[("range_scan", (("from", "1995-02-01"), ("to", "1995-02-10")))],
                         oracle.digest([(10, 20, 10 * 500 * 97)]))


class FailureCount(unittest.TestCase):
    """Every kind of failed expectation counts once."""

    def test_failures(self):
        import run
        res = {"ops": [{"id": 0, "ok": True, "err": None}, {"id": 1, "ok": False, "err": "rowCount 9, model 10"},
                       {"id": 2, "ok": True, "err": None}],
               "checks": [{"name": "final content", "ok": False, "detail": "hash differs"},
                          {"name": "cdc op 4", "ok": True, "detail": ""}]}
        failures, bad = run.count_failures(res, {2: "digest differs", 1: "also wrong"})
        self.assertEqual(sorted(failures), [1, 2])
        self.assertEqual(failures[1], "rowCount 9, model 10")
        self.assertEqual([c["name"] for c in bad], ["final content"])

    def test_clean_run(self):
        import run
        res = {"ops": [{"id": 0, "ok": True, "err": None}], "checks": [{"name": "x", "ok": True, "detail": ""}]}
        self.assertEqual(run.count_failures(res, {}), ({}, []))


if __name__ == "__main__":
    unittest.main()
