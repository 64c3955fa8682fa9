"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_too_few_ops_has_no_tail(self):
        self.assertIsNone(stats.tail([1.0] * 19))
        self.assertIsNone(stats.tail([]))

    def test_twenty_ops_give_the_median(self):
        p, v = stats.tail([float(i) for i in range(20, 0, -1)])
        self.assertEqual((p, v), (50.0, 10.0))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail([float(i) for i in range(1, 101)]), (90.0, 90.0))
        self.assertEqual(stats.tail([float(i) for i in range(1, 1001)]), (99.0, 990.0))
        p, v = stats.tail([float(i) for i in range(1, 37)])
        self.assertAlmostEqual(p, 2600 / 36)
        self.assertEqual(v, 26.0)
        values = [float(i) for i in range(1, 37)]
        self.assertEqual(sum(1 for x in values if x > v), stats.MIN_BEYOND)


class SelfTimes(unittest.TestCase):
    def test_children_union_is_subtracted_and_clipped(self):
        spans = [
            {"id": 0, "parent": -1, "start_ms": 0.0, "end_ms": 10.0},
            {"id": 1, "parent": 0, "start_ms": 1.0, "end_ms": 3.0},
            {"id": 2, "parent": 0, "start_ms": 2.0, "end_ms": 5.0},
            {"id": 3, "parent": 0, "start_ms": 8.0, "end_ms": 12.0},
            {"id": 4, "parent": 2, "start_ms": 2.5, "end_ms": 3.5},
        ]
        s = stats.self_times(spans)
        # covered by children of 0: [1,5] and [8,10] -> 6 of 10
        self.assertAlmostEqual(s[0], 4.0)
        self.assertAlmostEqual(s[1], 2.0)
        self.assertAlmostEqual(s[2], 2.0)
        self.assertAlmostEqual(s[3], 4.0)
        self.assertAlmostEqual(s[4], 1.0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)


class JobAttribution(unittest.TestCase):
    def test_by_group_and_batch_not_time(self):
        ops = [{"id": 0, "group": "op-0", "start_ms": 0},
               {"id": 1, "group": "op-1", "start_ms": 100},
               {"id": 2, "batch": 7, "start_ms": 200}]
        jobs = [
            # starts inside op 1's window but carries op 0's group
            {"job": 10, "group": "op-0", "batch": None, "start_ms": 150},
            {"job": 11, "group": "op-1", "batch": None, "start_ms": 120},
            {"job": 12, "group": None, "batch": "7", "start_ms": 90},
            {"job": 13, "group": None, "batch": None, "start_ms": 210},
            {"job": 14, "group": "other", "batch": "3", "start_ms": 205},
        ]
        got = {k: [j["job"] for j in v] for k, v in stats.attribute_jobs(jobs, ops).items()}
        self.assertEqual(got, {0: [10], 1: [11], 2: [12]})


class Inputs(unittest.TestCase):
    def _gen(self, d, seed):
        gen.generate(d, seed, 0.001, 200)
        gen.ingest_batches(d, seed, 200, 2)

    def _files(self, d):
        return sorted(os.path.relpath(os.path.join(p, f), d)
                      for p, _, fs in os.walk(d) for f in fs)

    def test_same_seed_same_bytes_other_seed_differs(self):
        os.makedirs(run.STATE_DIR, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.STATE_DIR) as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            self._gen(a, 5)
            self._gen(b, 5)
            self._gen(c, 6)
            files = self._files(a)
            self.assertIn("documents.parquet", files)
            self.assertIn(os.path.join("ingest", "docs_2.parquet"), files)
            self.assertEqual(files, self._files(b))
            for f in files:
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f)
            differ = [f for f in files if not filecmp.cmp(
                os.path.join(a, f), os.path.join(c, f), shallow=False)]
            self.assertIn("documents.parquet", differ)
            self.assertIn("lineitem.parquet", differ)


class Checks(unittest.TestCase):
    def test_injected_wrong_result_counts_as_failed(self):
        want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
        self.assertIsNone(oracle.compare(want.copy(), want))
        wrong = want.copy()
        wrong.loc[1, "v"] = 9.0
        reason = oracle.compare(wrong, want)
        self.assertIn("value mismatch in v", reason)
        ops = [{"id": i, "name": n, "error": None}
               for i, n in enumerate(["q01_x", "q02_y", "q01_x", "q02_y", "q02_y", "q01_x"])]
        # ops 0, 1 (first pass) and 4, 5 (last pass) were checked; 2, 3
        # measured. q02_y's last checked op is wrong: it fails, and so
        # does its measured op; its right first-pass op does not.
        failed = run.failures(ops, {0: None, 1: None, 4: reason, 5: None})
        self.assertEqual([n for n, _ in failed], ["q02_y"] * 2)
        self.assertTrue(all(r == reason for _, r in failed))

    def test_error_and_unchecked_ops_fail(self):
        ops = [{"id": 0, "name": "q01_x", "error": "boom"},
               {"id": 1, "name": "q09_z", "error": None}]
        failed = run.failures(ops, {0: None})
        self.assertEqual(failed, [("q01_x", "boom"), ("q09_z", "output not checked")])

    def test_row_order_and_shape(self):
        want = pd.DataFrame({"k": [1, 2]})
        self.assertIn("row count", oracle.compare(pd.DataFrame({"k": [1]}), want))
        self.assertIsNotNone(oracle.compare(pd.DataFrame({"k": [2, 1]}), want))
        self.assertIsNone(oracle.compare(pd.DataFrame({"k": [2, 1]}), want, sort_rows=True))

    def test_ingest_fates(self):
        ok = {"shipped": 6, "blocked": 2, "url_dup_corpus": 1}
        self.assertIsNone(oracle.check_fates(ok, 9))
        self.assertIn("fates for", oracle.check_fates(ok, 10))
        dup = {"url_dup_corpus": 5, "exact_dup_batch": 4, "shipped": 1}
        self.assertIn("duplicates", oracle.check_fates(dup, 10))
        ops = [{"id": 0, "name": "batch_0", "error": None},
               {"id": 1, "name": "batch_1", "error": None},
               {"id": 2, "name": "batch_2", "error": None}]
        failed = run.failures(ops, {0: None, 1: "bad", 2: None})
        self.assertEqual(failed, [("batch_1", "bad")])


class NoiseStamps(unittest.TestCase):
    def test_steal_share(self):
        before = [100, 0, 50, 800, 0, 0, 0, 50]
        after = [160, 0, 70, 900, 0, 0, 0, 70]
        self.assertAlmostEqual(run.steal_share(before, after), 20 / 200)
        self.assertIsNone(run.steal_share(None, after))
        self.assertIsNone(run.steal_share(before, before))


class MetricText(unittest.TestCase):
    def test_parse_metric(self):
        self.assertEqual(layers.parse_metric("1,234"), 1234.0)
        self.assertEqual(layers.parse_metric("2.0 KiB"), 2048.0)
        self.assertEqual(layers.parse_metric(
            "total (min, med, max (stageId: taskId))\n1.5 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB "
            "(stage 1.0: task 2))"), 1.5 * 1048576)

    def test_tables_read(self):
        self.assertEqual(oracle.tables_read(
            "SELECT * FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey"),
            ["lineitem", "orders"])


if __name__ == "__main__":
    unittest.main()
