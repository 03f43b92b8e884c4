"""Tests of the benchmark's independent reference computations.

    python3 -m pytest perfbench/tests
"""
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import reference  # noqa: E402


def line(xs):
    """Points on the x axis."""
    return np.array([[x, 0] for x in xs], dtype=np.int64)


class MinstdRand0Test(unittest.TestCase):
    # Printed by a program compiled against libstdc++ (g++ 12):
    # std::minstd_rand0 g(seed); g() for the raw draws, and
    # std::uniform_int_distribution<int> d(0, hi); d(std::default_random_engine(seed)).
    RAW_42 = [705894, 1126542223, 1579310009, 565444343, 807934826]
    UNIFORM_10000 = {
        1: [0, 1315, 7556, 4586, 5328, 2189, 470, 6789, 6793, 9347, 3835, 5194,
            8310, 345, 534],
        42: [3, 5246, 7355, 2633, 3762, 1963, 9759, 5123, 5305, 2571, 1070, 8155,
             9006, 4520, 2454],
        2021: [158, 8379, 783, 9320, 7226, 5165, 771, 9856, 8581, 143, 577, 7405,
               3810, 8703, 459],
        1638086475: [2696, 7088, 7257, 8608, 9280, 7011, 5425, 567, 9171, 1192,
                     2705, 9781, 6604, 6673, 2978],
        123456789: [2184, 9564, 8295, 5617, 4153, 661, 2576, 1099, 438, 6340, 617,
                    4495, 4013, 7547, 7973],
    }
    UNIFORM_99999_SEED_7 = [5, 92080, 28924, 21055, 72939, 53273, 32932, 75208,
                            75510, 54287, 68454, 63593, 81678, 24201, 37424]

    def test_raw_draws(self):
        g = reference.MinstdRand0(42)
        self.assertEqual([g.raw() for _ in range(5)], self.RAW_42)

    def test_uniform_int_0_10000(self):
        for seed, want in self.UNIFORM_10000.items():
            g = reference.MinstdRand0(seed)
            self.assertEqual([g.uniform_int(10000) for _ in range(15)], want, seed)

    def test_uniform_int_at_the_benchmark_point_count(self):
        g = reference.MinstdRand0(7)
        self.assertEqual([g.uniform_int(99999) for _ in range(15)],
                         self.UNIFORM_99999_SEED_7)

    def test_zero_seed_is_promoted_to_one(self):
        self.assertEqual(reference.MinstdRand0(0).raw(), 16807)

    def test_init_positions_clamp_the_inclusive_bound(self):
        # seed 1 draws 0 first; every position stays below n
        pos = reference.seeded_init_positions(15, 10000, 1)
        self.assertEqual(pos[:3], [0, 1315, 7556])
        self.assertTrue(all(0 <= p < 10000 for p in pos))


class IntLloydTest(unittest.TestCase):

    def test_empty_cluster_keeps_its_centroid(self):
        # (0,2) -> c0, (10,12) -> c2, nothing reaches c1 at x=100:
        # c0 = 2 // 2 = 1, c2 = 22 // 2 = 11, c1 stays; then a fixpoint.
        pts = line([0, 2, 10, 12])
        init = line([0, 100, 12])
        got, states = reference.int_lloyd(pts, init, 999)
        self.assertEqual(got.tolist(), line([1, 100, 11]).tolist())
        self.assertEqual(states, 2)

    def test_truncating_mean(self):
        # mean of 0, 1, 1 is 2/3: truncates to 0, never rounds to 1
        got = reference.int_lloyd_step(line([0, 1, 1]), line([0]))
        self.assertEqual(got.tolist(), [[0, 0]])

    def test_ties_go_to_the_lowest_index(self):
        # x=5 is 5 from both centroids; index 0 (at 10) takes it
        got = reference.int_lloyd_step(line([0, 5, 10]), line([10, 0]))
        self.assertEqual(got.tolist(), line([7, 0]).tolist())

    def test_two_state_limit_cycle(self):
        # A step that maps a -> b -> a. No two-cycle of the integer step
        # turned up in millions of small random inputs, so the cycle
        # arithmetic is checked on this stand-in step.
        a, b = line([1, 9]), line([2, 8])
        swap = {a.tobytes(): b, b.tobytes(): a}

        def step(pts, cents):
            return swap[cents.tobytes()]

        self.assertEqual(reference.int_lloyd(None, a, 999, step)[0].tolist(), b.tolist())
        self.assertEqual(reference.int_lloyd(None, a, 998, step)[0].tolist(), a.tolist())
        self.assertEqual(reference.int_lloyd(None, a, 999, step)[1], 2)

    def test_cycle_entered_after_a_transient(self):
        # p -> a -> b -> a ...: the state after n rounds is a for odd n
        p, a, b = line([0, 10]), line([1, 9]), line([2, 8])
        nxt = {p.tobytes(): a, a.tobytes(): b, b.tobytes(): a}

        def step(pts, cents):
            return nxt[cents.tobytes()]

        got, states = reference.int_lloyd(None, p, 999, step)
        self.assertEqual((got.tolist(), states), (a.tolist(), 3))
        self.assertEqual(reference.int_lloyd(None, p, 1000, step)[0].tolist(), b.tolist())
        self.assertEqual(reference.int_lloyd(None, p, 1, step)[0].tolist(), a.tolist())

    def test_fixed_count_below_convergence_runs_every_round(self):
        pts = line([0, 2, 10, 12])
        got, states = reference.int_lloyd(pts, line([0, 100, 12]), 1)
        self.assertEqual((got.tolist(), states), (line([1, 100, 11]).tolist(), 2))


if __name__ == "__main__":
    unittest.main()
