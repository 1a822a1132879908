import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import oracle  # noqa: E402


class CompareTest(unittest.TestCase):
    def test_column_order_does_not_matter(self):
        a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
        b = pd.DataFrame({"y": ["a", "b"], "x": [1, 2]})
        self.assertIsNone(oracle.compare(a, b))

    def test_row_count_differs(self):
        a = pd.DataFrame({"x": [1, 2]})
        self.assertIn("rows", oracle.compare(a, a.head(1)))

    def test_values_compare_as_strings(self):
        a = pd.DataFrame({"x": [1.5, 2.0]})
        self.assertIsNone(oracle.compare(a, pd.DataFrame({"x": [1.5, 2.0]})))
        self.assertIn("x[row 1]", oracle.compare(a, pd.DataFrame({"x": [1.5, 2.5]})))

    def test_column_names_differ(self):
        self.assertIn("columns", oracle.compare(pd.DataFrame({"x": [1]}), pd.DataFrame({"z": [1]})))


if __name__ == "__main__":
    unittest.main()
