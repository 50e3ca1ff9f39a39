import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import digest  # noqa: E402


class Canonical(unittest.TestCase):
    def test_numbers(self):
        self.assertEqual(digest.canon(5), "5")
        self.assertEqual(digest.canon(5.0), "5")
        self.assertEqual(digest.canon(1.5), "1.5")
        self.assertEqual(digest.canon(-0.0), "0")
        self.assertEqual(digest.canon(-1e-9), "0")
        self.assertEqual(digest.canon(0.0078125), "0.007812")  # half-even tie
        self.assertEqual(digest.canon(decimal.Decimal("2.500")), "2.5")
        self.assertEqual(digest.canon(float("nan")), "NaN")

    def test_other_scalars(self):
        self.assertEqual(digest.canon(None), "NULL")
        self.assertEqual(digest.canon(True), "true")
        self.assertEqual(digest.canon(datetime.date(2024, 1, 2)), "2024-01-02")
        self.assertEqual(digest.canon(datetime.datetime(2024, 1, 2, 3, 4, 5)),
                         "2024-01-02 03:04:05")
        self.assertEqual(
            digest.canon(datetime.datetime(2024, 1, 2, 3, 4, 5, 60)),
            "2024-01-02 03:04:05.000060")

    def test_digest_ignores_row_and_column_order(self):
        a = digest.digest(["x", "y"], [(1, "a"), (2, "b")])
        b = digest.digest(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)
        self.assertNotEqual(a, digest.digest(["x", "y"], [(1, "a"), (2, "c")]))


if __name__ == "__main__":
    unittest.main()
