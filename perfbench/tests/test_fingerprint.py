"""Result fingerprints and their comparison."""
import unittest

from lib import fingerprint


class Fingerprints(unittest.TestCase):

    rows = [(1, "a", 0.5), (2, "b", float("nan"))]
    cols = ["id", "name", "x"]

    def test_column_order_does_not_matter(self):
        permuted = [(r[2], r[0], r[1]) for r in self.rows]
        self.assertEqual(fingerprint.fingerprint(self.rows, self.cols),
                         fingerprint.fingerprint(permuted, ["x", "id", "name"]))

    def test_equal_results_compare_equal(self):
        f = fingerprint.fingerprint(self.rows, self.cols)
        self.assertIsNone(fingerprint.compare(f, dict(f)))

    def test_row_order_matters(self):
        a = fingerprint.fingerprint(self.rows, self.cols)
        b = fingerprint.fingerprint(self.rows[::-1], self.cols)
        self.assertIn("values differ", fingerprint.compare(a, b))

    def test_a_changed_value_is_caught(self):
        a = fingerprint.fingerprint(self.rows, self.cols)
        b = fingerprint.fingerprint([(1, "a", 0.5000000000000001), self.rows[1]], self.cols)
        self.assertIn("values differ", fingerprint.compare(a, b))

    def test_int_and_float_are_different_values(self):
        a = fingerprint.fingerprint([(1,)], ["v"])
        b = fingerprint.fingerprint([(1.0,)], ["v"])
        self.assertIsNotNone(fingerprint.compare(a, b))

    def test_row_count_and_columns_are_reported_first(self):
        a = fingerprint.fingerprint(self.rows, self.cols)
        self.assertIn("rows", fingerprint.compare(a, fingerprint.fingerprint(self.rows[:1], self.cols)))
        self.assertIn("columns", fingerprint.compare(a, fingerprint.fingerprint(self.rows, ["id", "name", "y"])))

    def test_canonical_form_matches_the_oracle_checker(self):
        self.assertEqual(fingerprint.canon(self.rows, self.cols),
                         [("1", "'a'", "0.5"), ("2", "'b'", "NaN")])


if __name__ == "__main__":
    unittest.main()
