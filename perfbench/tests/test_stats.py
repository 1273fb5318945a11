"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class Percentile(unittest.TestCase):
    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 51), 3)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0), 1)

    def test_p75_rank_depends_only_on_the_sample_count(self):
        # 33 operations (three pipeline passes): the 25th smallest
        self.assertEqual(stats.percentile(range(1, 34), 75), 25)
        self.assertEqual(stats.percentile(list(range(33, 0, -1)), 75), 25)
        self.assertEqual(stats.percentile(range(1, 101), 75), 75)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 75)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_clips_to_window(self):
        self.assertEqual(stats.union_length([(-5, 1), (9, 20)], 0, 10), 2)
        self.assertEqual(stats.union_length([(11, 12)], 0, 10), 0)

    def test_idle_is_wall_minus_task_union(self):
        # four tasks on two cores overlap; the query is idle 0-1 and 4-6
        tasks = [(1, 3), (2, 4), (1, 2), (3, 4)]
        self.assertEqual(stats.idle_time(0, 6, tasks), 3)
        self.assertEqual(stats.idle_time(0, 6, []), 6)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_children_union(self):
        spans = {
            "pass": {"parent": None, "start": 0, "end": 10},
            "q1": {"parent": "pass", "start": 1, "end": 4},
            "q2": {"parent": "pass", "start": 5, "end": 9},
            "job": {"parent": "q2", "start": 6, "end": 8},
            "stage1": {"parent": "job", "start": 6, "end": 7.5},
            "stage2": {"parent": "job", "start": 7, "end": 8},
        }
        got = stats.self_times(spans)
        self.assertEqual(got["pass"], 3)
        self.assertEqual(got["q1"], 3)
        self.assertEqual(got["q2"], 2)
        self.assertEqual(got["job"], 0)
        self.assertEqual(got["stage1"], 1.5)

    def test_child_outside_parent_is_clipped(self):
        spans = {"a": {"parent": None, "start": 0, "end": 2},
                 "b": {"parent": "a", "start": 1, "end": 5}}
        self.assertEqual(stats.self_times(spans)["a"], 1)

    def test_by_layer(self):
        spans = {"p": {"parent": None, "start": 0, "end": 4, "name": "pass"},
                 "x": {"parent": "p", "start": 0, "end": 1, "name": "query:a"},
                 "y": {"parent": "p", "start": 2, "end": 3, "name": "query:b"}}
        got = stats.self_time_by_layer(spans, lambda s: s["name"].split(":")[0])
        self.assertEqual(got, {"pass": 2, "query": 2})


class Failures(unittest.TestCase):
    def test_raised_and_wrong_output_both_count(self):
        runs = [("a", True), ("a", True), ("b", False), ("c", True)]
        self.assertEqual(stats.failures(runs, {"a"}), (4, 3))

    def test_all_good(self):
        self.assertEqual(stats.failures([("a", True)] * 5, set()), (5, 0))

    def test_a_failed_run_of_a_wrong_key_counts_once(self):
        self.assertEqual(stats.failures([("a", False)], {"a"}), (1, 1))


class Spread(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        xs = [10, 10, 10, 10, 10, 10, 10, 10, 10, 10]
        self.assertEqual(stats.spread(xs), 0)
        # exclusive-method quartiles of 8..12 are 8.5 and 11.5
        self.assertAlmostEqual(stats.spread([8, 9, 10, 11, 12]), 3 / 10)


if __name__ == "__main__":
    unittest.main()
