"""Tests of the rules the benchmark's numbers rest on.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import analysis  # noqa: E402


class TailRank(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(analysis.tail_rank(20), (50.0, 10))
        self.assertEqual(analysis.tail_rank(39), (50.0, 19))
        self.assertEqual(analysis.tail_rank(40), (75.0, 10))
        self.assertEqual(analysis.tail_rank(100), (90.0, 10))
        self.assertEqual(analysis.tail_rank(199), (90.0, 19))
        self.assertEqual(analysis.tail_rank(200), (95.0, 10))
        self.assertEqual(analysis.tail_rank(1000), (99.0, 10))
        self.assertEqual(analysis.tail_rank(10000), (99.9, 10))

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(analysis.tail_rank(6), (50.0, 3))
        self.assertEqual(analysis.tail_rank(19), (50.0, 9))
        self.assertEqual(analysis.tail_rank(1), (50.0, 0))

    def test_tail_value_is_the_nearest_rank_sample(self):
        values = list(range(1, 41))  # 1..40 in any order
        values.reverse()
        value, pct, beyond = analysis.tail(values)
        self.assertEqual((value, pct, beyond), (30, 75.0, 10))
        self.assertEqual(sum(v > value for v in values), beyond)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(analysis.self_time(0, 10, []), 10)

    def test_disjoint_children(self):
        self.assertEqual(analysis.self_time(0, 10, [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        # a micro-batch 2..8 and the jobs it starts 3..5 and 4..9
        self.assertEqual(analysis.self_time(0, 10, [(2, 8), (3, 5), (4, 9)]), 3)

    def test_children_sticking_out_are_clipped(self):
        self.assertEqual(analysis.self_time(10, 20, [(5, 12), (18, 30)]), 6)
        self.assertEqual(analysis.self_time(10, 20, [(0, 5), (25, 30)]), 10)

    def test_nested_and_touching_children(self):
        self.assertEqual(analysis.self_time(0, 10, [(1, 4), (4, 6), (2, 3)]), 5)
        self.assertEqual(analysis.self_time(0, 10, [(0, 10), (2, 3)]), 0)


class PassOrders(unittest.TestCase):
    members = ["a", "b", "c", "d", "e", "f"]

    def test_same_seed_same_orders(self):
        self.assertEqual(analysis.pass_orders(self.members, 7, 3),
                         analysis.pass_orders(self.members, 7, 3))

    def test_each_pass_is_a_permutation(self):
        for order in analysis.pass_orders(self.members, 3, 5):
            self.assertEqual(sorted(order), self.members)

    def test_seeds_and_passes_differ(self):
        orders = analysis.pass_orders(self.members, 1, 4)
        self.assertGreater(len({tuple(o) for o in orders}), 1)
        self.assertNotEqual(analysis.pass_orders(self.members, 1, 4),
                            analysis.pass_orders(self.members, 2, 4))

    def test_fewer_passes_are_a_prefix(self):
        self.assertEqual(analysis.pass_orders(self.members, 5, 2),
                         analysis.pass_orders(self.members, 5, 4)[:2])


class AssignBySubmissionTime(unittest.TestCase):
    # two queries: build 100.2..140.7, plan ..141.3, exec ..180.9; then
    # a gap; build 190.5..200.0, plan ..200.4, exec ..230.0
    phases = [(100.2, 140.7, "b1"), (140.7, 141.3, "p1"), (141.3, 180.9, "e1"),
              (190.5, 200.0, "b2"), (200.0, 200.4, "p2"), (200.4, 230.0, "e2")]

    def test_inside_phases(self):
        self.assertEqual(analysis.assign([120, 150, 195, 210], self.phases),
                         ["b1", "e1", "b2", "e2"])

    def test_whole_millisecond_at_a_boundary_goes_to_the_later_phase(self):
        # the exec job of query 1 is stamped 141 although exec began at 141.3
        self.assertEqual(analysis.assign([141, 100], self.phases), ["e1", "b1"])

    def test_outside_and_between_phases(self):
        self.assertEqual(analysis.assign([50, 185, 231], self.phases), [None, None, None])

    def test_job_group_plays_no_part(self):
        # a micro-batch job submitted on the stream thread during query 2's
        # build belongs to that build, whatever thread or group ran it
        self.assertEqual(analysis.assign([199], self.phases), ["b2"])


if __name__ == "__main__":
    unittest.main()
