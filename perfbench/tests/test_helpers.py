"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import catalog, compare, layers, stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_is_p90_with_ten_beyond(self):
        xs = list(range(1, 101))
        value, pct, beyond = stats.tail(xs)
        self.assertEqual((pct, beyond), (90.0, 10))
        self.assertAlmostEqual(value, 90.5, places=6)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_rank_follows_sample_count(self):
        value, pct, beyond = stats.tail([float(i) for i in range(40)])
        self.assertEqual((pct, beyond), (75.0, 10))
        self.assertAlmostEqual(value, 29.5, places=6)

    def test_order_of_samples_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 6
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_fewer_than_twenty_samples_fall_back_to_median(self):
        value, pct, beyond = stats.tail([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11])
        self.assertEqual((value, pct, beyond), (6, 50.0, 5))

    def test_twenty_samples_is_the_median(self):
        value, pct, beyond = stats.tail(list(range(20)))
        self.assertEqual((value, pct, beyond), (9.5, 50.0, 10))

    def test_twenty_one_samples_is_above_the_median(self):
        value, pct, beyond = stats.tail(list(range(21)))
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(value, 10.5, places=6)
        self.assertAlmostEqual(pct, 100 * 11 / 21)

    def test_harrell_davis_of_equal_samples_is_their_value(self):
        self.assertAlmostEqual(stats.quantile_hd([0.7] * 32, 22 / 32), 0.7)

    def test_harrell_davis_median_of_a_uniform_grid(self):
        self.assertAlmostEqual(stats.quantile_hd(list(range(1, 1001)), 0.5), 500.5, places=6)

    def test_one_sample_at_the_tail_rank_moves_the_tail_little(self):
        # two op kinds meet at the tail's rank: which sample lands there
        # moves the sample of rank n - 10 by the whole gap, the estimate
        # by a fraction of it
        low = [0.5] * 21 + [1.0] * 11
        high = [0.5] * 22 + [1.0] * 10
        rank_gap = sorted(low)[21] - sorted(high)[21]
        hd_gap = stats.tail(low)[0] - stats.tail(high)[0]
        self.assertEqual(rank_gap, 0.5)
        self.assertLess(hd_gap, 0.5 * rank_gap)

    def test_median_of_kinds_weighs_every_kind_the_same(self):
        # the six samples' own median is 0.35; per kind the medians are
        # 0.2, 0.5 and 1.0
        pairs = [("a", 0.2), ("a", 0.2), ("b", 0.5), ("b", 0.9), ("b", 0.1), ("c", 1.0)]
        self.assertEqual(stats.median_of_kinds(pairs), 0.5)
        self.assertEqual(stats.median_of_kinds([("a", 1.0), ("b", 3.0)]), 2.0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


def span(i, parent, start, end, name="x", op=1):
    return {"id": i, "parent": parent, "name": name, "start_us": start, "end_us": end,
            "op": op, "attrs": {}}


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(layers.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(layers.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 2, 15, 20)]
        st = layers.self_times(spans)
        self.assertEqual(st[1], 50)   # children cover [10, 60)
        self.assertEqual(st[2], 25)   # its child covers 5 of 30
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_children_are_clipped_to_the_parent(self):
        # a job reported past the end of its op only covers the overlap
        st = layers.self_times([span(1, 0, 0, 100), span(2, 1, 90, 130)])
        self.assertEqual(st[1], 90)


class LayerUseTest(unittest.TestCase):
    def test_op_layers_come_from_plans_and_stages(self):
        plans = [{"op": 1, "attrs": {"uses.sources": 1.0, "analysis_s": 0.1}},
                 {"op": 2, "attrs": {"functions": 1.0}}]
        stages = [{"op": 2, "attrs": {"uses.operators": 1.0, "tasks": 4}},
                  {"op": 1, "attrs": {"uses.queries": 1.0}}]
        uses = layers.ops_using(plans, stages)
        self.assertEqual(uses[1], {"sources", "queries"})
        self.assertEqual(uses[2], {"operators"})
        self.assertEqual(uses[3], set())


class LinearFitTest(unittest.TestCase):
    def test_exact_line(self):
        a, b = stats.linear_fit([0.1, 3.0, 0.1, 3.0], [0.5, 0.8, 0.5, 0.8])
        self.assertAlmostEqual(a, 0.5 - 0.1 * (0.3 / 2.9))
        self.assertAlmostEqual(b, 0.3 / 2.9)

    def test_one_size_has_no_slope(self):
        self.assertEqual(stats.linear_fit([1.0, 1.0], [2.0, 4.0]), (3.0, 0.0))


class FailureCountTest(unittest.TestCase):
    def test_failed_ops_and_mismatches_count(self):
        samples = [{"ok": True}, {"ok": False}, {"ok": True}]
        checks = [("a", None), ("b", "rows 1 != 2")]
        self.assertEqual(compare.failure_counts(samples, checks), (5, 2))

    def test_clean_run(self):
        self.assertEqual(compare.failure_counts([{"ok": True}], [("a", None)]), (2, 0))


class ComparatorTest(unittest.TestCase):
    def frame(self, **cols):
        return pd.DataFrame(cols)

    def test_row_and_column_order_do_not_matter(self):
        a = self.frame(k=[1, 2, 3], v=[0.5, 1.5, 2.5])
        b = pd.DataFrame({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]})
        self.assertIsNone(compare.diff(a, b))

    def test_float_must_match_exactly(self):
        a = self.frame(k=[1], v=[0.1 + 0.2])
        b = self.frame(k=[1], v=[0.3])
        self.assertIn("v:", compare.diff(a, b))

    def test_nulls_equal_nulls(self):
        a = self.frame(k=[1, 2], v=[np.nan, 1.0], s=[None, "x"])
        b = self.frame(k=[2, 1], v=[1.0, np.nan], s=["x", None])
        self.assertIsNone(compare.diff(a, b))

    def test_missing_row_and_column_reported(self):
        self.assertIn("rows", compare.diff(self.frame(k=[1, 2]), self.frame(k=[1])))
        self.assertIn("columns", compare.diff(self.frame(k=[1]), self.frame(j=[1])))

    def test_int_float_dtype_divergence_is_a_mismatch(self):
        self.assertIn("dtype", compare.diff(self.frame(k=[1.0]), self.frame(k=[1])))

    def test_string_cell_difference(self):
        self.assertIn("1 cells differ",
                      compare.diff(self.frame(s=["a", "b"]), self.frame(s=["a", "c"])))


class CatalogTest(unittest.TestCase):
    def test_benchmark_json_matches_catalog(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]],
                         [e[:4] for e in catalog.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [p[:3] for p in catalog.PER_LAYER])
        for w in b["workloads"]:
            self.assertIn(w["name"], catalog.LISTED_WORKLOADS)
            self.assertEqual(w["why"], catalog.WORKLOADS[w["name"]])
        self.assertEqual([w["name"] for w in b["workloads"]], list(catalog.LISTED_WORKLOADS))


if __name__ == "__main__":
    unittest.main()
