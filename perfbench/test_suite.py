"""Self-tests of the spread figure `suite.py spread` reports.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import suite


class SpreadTest(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        # exclusive-method quartiles of 1..10 are 2.75 and 8.25; median 5.5
        self.assertAlmostEqual(suite.spread([float(i) for i in range(1, 11)]), 1.0)
        # order does not matter
        self.assertAlmostEqual(suite.spread([10.0, 1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 5.0]), 1.0)
        # quartiles 1.5 and 4.5 of 1..5, median 3
        self.assertAlmostEqual(suite.spread([5.0, 1.0, 4.0, 2.0, 3.0]), 1.0)
        # quartiles 20 and 60 of 10..70, median 40
        self.assertAlmostEqual(suite.spread([10.0 * i for i in range(1, 8)]), 1.0)

    def test_steady_values_have_no_spread(self):
        self.assertEqual(suite.spread([3.0] * 10), 0.0)
        self.assertEqual(suite.spread([3.0]), 0.0)


if __name__ == "__main__":
    unittest.main()
