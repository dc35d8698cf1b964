"""Tests for the spread computation steady.py reports. The benchmark's
Scala helpers are tested by graftbench.SelfTest
(python3 perfbench/run.py --selftest)."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.dont_write_bytecode = True

import steady  # noqa: E402


class SpreadTest(unittest.TestCase):
    def test_quartile_spread_over_median(self):
        values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        # statistics.quantiles (exclusive): q1 = 11.75, q3 = 17.25, median 14.5
        self.assertAlmostEqual(steady.spread(values), (17.25 - 11.75) / 14.5)

    def test_constant_values_have_no_spread(self):
        self.assertEqual(steady.spread([5.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
