"""Unit tests for the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests -p 'test_metrics.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402
import run  # noqa: E402


def span(id_, name, parent, start, end, op=0):
    return {"id": id_, "name": name, "parent": parent, "op": op,
            "start_ns": start, "end_ns": end}


def op(id_, kind, start, end, ok=True, cls="query"):
    return {"id": id_, "kind": kind, "cls": cls, "start_ns": start, "end_ns": end,
            "ok": ok}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 0.5), 3)
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), 4.6)
        self.assertEqual(metrics.percentile(xs, 0.0), 1)
        self.assertEqual(metrics.percentile(xs, 1.0), 5)

    def test_single_sample_and_empty(self):
        self.assertEqual(metrics.percentile([7.5], 0.9), 7.5)
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_touching_and_empty(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([(0, 5), (5, 8)]), 8)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.union_length([(20, 25), (5, 15), (0, 10)]), 20)


class SelfTimeTest(unittest.TestCase):
    def test_children_cover_is_a_union(self):
        spans = [span(0, "op", -1, 0, 100),
                 span(1, "plans", 0, 10, 40),
                 span(2, "exec", 0, 30, 70),     # overlaps plans by 10
                 span(3, "exec.inner", 2, 40, 50)]
        st = metrics.self_times(spans)
        self.assertEqual(st["op"], 100 - 60)
        self.assertEqual(st["plans"], 30)
        self.assertEqual(st["exec"], 40 - 10)
        self.assertEqual(st["exec.inner"], 10)

    def test_child_outside_parent_is_clipped(self):
        st = metrics.self_times([span(0, "op", -1, 0, 10), span(1, "x", 0, 5, 20)])
        self.assertEqual(st["op"], 5)

    def test_same_name_accumulates(self):
        st = metrics.self_times([span(0, "op", -1, 0, 10), span(1, "op", -1, 20, 25)])
        self.assertEqual(st["op"], 15)


class KindGeomeanTest(unittest.TestCase):
    def test_each_kind_counts_once(self):
        ops = [op(0, "a", 0, 1), op(1, "a", 0, 3), op(2, "a", 0, 2), op(3, "b", 0, 8)]
        # medians 2 and 8 (in ns): geometric mean 4, however many ops of a
        self.assertAlmostEqual(metrics.kind_p50_geomean(ops), 4e-9)
        self.assertAlmostEqual(metrics.kind_p50_geomean(ops + ops[:3]), 4e-9)

    def test_scaled_by_each_ops_probe(self):
        ref = metrics.REFERENCE_PROBE_NS
        ops = [dict(op(0, "a", 0, 10), probe_ns=2 * ref), dict(op(1, "b", 0, 10), probe_ns=ref / 2)]
        # 5 ns and 20 ns once scaled: geometric mean 10 ns
        self.assertAlmostEqual(metrics.kind_p50_geomean(ops, metrics._scaled), 10e-9)


class OverheadTest(unittest.TestCase):
    def test_compares_kind_by_kind(self):
        base = [op(0, "a", 0, 10), op(1, "b", 0, 100)]
        traced = [op(2, "a", 0, 11), op(3, "a", 0, 11), op(4, "c", 0, 500)]
        self.assertAlmostEqual(metrics.tracing_overhead(base, traced), 0.1)


class FailureCountTest(unittest.TestCase):
    def test_oracle_mismatch_fails_every_op_of_that_query(self):
        raw = {"windows": [{"ops": [op(0, "q1", 0, 1), op(1, "q2", 1, 2),
                                    op(2, "q1", 2, 3), op(3, "q3", 3, 4, ok=False)]}],
               "checks": [{"name": "scan", "ok": False, "error": "differs"},
                          {"name": "mv", "ok": True, "error": None}]}
        attempted, failed, msgs = run.count_failures(raw, {"q1": "values differ",
                                                           "q2": None})
        self.assertEqual(attempted, 6)
        self.assertEqual(failed, 2 + 1 + 1)
        self.assertTrue(any("q1" in m for m in msgs))


if __name__ == "__main__":
    unittest.main()
