"""Tests for the benchmark's own statistics.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_above(self):
        xs = [float(i) for i in range(1, 51)]  # 1..50
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 50)
        self.assertEqual(value, 40.0)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertAlmostEqual(pct, 80.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 0.5, 11.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 1.0)  # 12 samples: rank 2

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)


class FailureCountTest(unittest.TestCase):
    passes = [
        {"ops": [["a", 1.0, None], ["b", 1.0, "Boom: x"], ["c", 1.0, None]]},
        {"ops": [["c", 1.0, None], ["b", 1.0, None], ["a", 1.0, None]]},
    ]

    def test_thrown_ops_count(self):
        self.assertEqual(stats.count_failures(self.passes, set()), (6, 1))

    def test_failed_check_fails_every_run_of_that_op(self):
        self.assertEqual(stats.count_failures(self.passes, {"c"}), (6, 3))
        self.assertEqual(stats.count_failures(self.passes, {"b"}), (6, 2))


class OpOrderTest(unittest.TestCase):
    ops = [f"op{i}" for i in range(12)]

    def test_same_seed_same_order(self):
        self.assertEqual(stats.op_order(self.ops, 7, 3), stats.op_order(self.ops, 7, 3))

    def test_is_a_permutation(self):
        self.assertEqual(sorted(stats.op_order(self.ops, 7, 0)), sorted(self.ops))

    def test_seed_and_pass_change_the_order(self):
        self.assertNotEqual(stats.op_order(self.ops, 7, 0), stats.op_order(self.ops, 8, 0))
        self.assertNotEqual(stats.op_order(self.ops, 7, 0), stats.op_order(self.ops, 7, 1))

    def test_input_not_mutated(self):
        ops = list(self.ops)
        stats.op_order(ops, 1, 0)
        self.assertEqual(ops, self.ops)


if __name__ == "__main__":
    unittest.main()
