"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import pandas as pd

import benchlib
import run

HERE = os.path.dirname(os.path.abspath(__file__))


class TailTest(unittest.TestCase):
    def test_nearest_rank_p90_leaves_one_of_ten_beyond(self):
        vals = [float(v) for v in range(1, 11)]
        self.assertEqual(benchlib.nearest_rank(vals, 90), 9.0)
        self.assertEqual(benchlib.nearest_rank(vals, 50), 5.0)

    def test_nearest_rank_small_runs(self):
        # one dedup round: six items, p90 is the slowest
        self.assertEqual(benchlib.nearest_rank([3, 1, 2, 6, 5, 4], 90), 6)
        self.assertEqual(benchlib.nearest_rank([7.0], 90), 7.0)
        self.assertEqual(benchlib.nearest_rank([2, 1], 0), 1)


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(benchlib.union_length([(5, 15), (0, 10), (20, 30)]), 25)

    def test_union_nested_touching_and_empty(self):
        self.assertEqual(benchlib.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(benchlib.union_length([(0, 5), (5, 8)]), 8)
        self.assertEqual(benchlib.union_length([(4, 4), (7, 6)]), 0)
        self.assertEqual(benchlib.union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, s, e, parent=0):
        return {"id": i, "start": s, "end": e, "parent": parent}

    def test_self_time_subtracts_children_once(self):
        item = self.span(1, 0, 100)
        kids = [self.span(2, 10, 40, 1), self.span(3, 30, 60, 1)]
        self.assertEqual(benchlib.self_time(item, kids), 50)

    def test_children_are_clipped_to_the_span(self):
        item = self.span(1, 0, 100)
        kids = [self.span(2, -20, 10, 1), self.span(3, 90, 130, 1)]
        self.assertEqual(benchlib.self_time(item, kids), 80)

    def test_no_children(self):
        self.assertEqual(benchlib.self_time(self.span(1, 5, 9), []), 4)

    def test_children_of_groups_by_parent(self):
        spans = [self.span(1, 0, 9), self.span(2, 1, 2, 1), self.span(3, 3, 4, 1)]
        kids = benchlib.children_of(spans)
        self.assertEqual([s["id"] for s in kids[1]], [2, 3])
        self.assertEqual([s["id"] for s in kids[0]], [1])


class AccountTest(unittest.TestCase):
    def test_throw_timeout_and_mismatch_each_fail_once(self):
        items = [{"visit": 0}, {"visit": 1, "error": "boom"},
                 {"visit": 2, "error": "timed out"}, {"visit": 3},
                 {"visit": 4}]
        checks = {0: True, 3: False, 4: True}
        self.assertEqual(benchlib.account(items, checks), (5, 2 + 1))

    def test_all_good(self):
        items = [{"visit": 0}, {"visit": 1}]
        self.assertEqual(benchlib.account(items, {0: True, 1: True}), (2, 0))


class DigestTest(unittest.TestCase):
    def test_order_insensitive_and_value_sensitive(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
        c = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
        self.assertEqual(benchlib.canon_digest(a), benchlib.canon_digest(b))
        self.assertNotEqual(benchlib.canon_digest(a), benchlib.canon_digest(c))

    def test_column_names_count(self):
        a = pd.DataFrame({"k": [1]})
        b = pd.DataFrame({"j": [1]})
        self.assertNotEqual(benchlib.canon_digest(a), benchlib.canon_digest(b))


class ContractTest(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
