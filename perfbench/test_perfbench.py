"""Tests of the benchmark's Python side: the digest encoder must agree with
the Scala one (same vector as SelfTest.scala). Run from perfbench/ with
`python3 -m unittest test_perfbench`, or via `run.py --selftest`.
"""
import datetime
import decimal
import unittest

from oracle_check import digest, encode


class DigestTest(unittest.TestCase):
    ROWS = [(1, 0.5, "x"), (None, -0.0, None), (3, float("nan"), "é")]

    def test_matches_scala_vector(self):
        self.assertEqual(digest(["b", "a", "c"], self.ROWS), (3, "e73453826266df7a"))

    def test_row_order_is_ignored(self):
        self.assertEqual(digest(["b", "a", "c"], self.ROWS[::-1]),
                         digest(["b", "a", "c"], self.ROWS))

    def test_column_order_is_by_name(self):
        swapped = [(a, b, c) for (b, a, c) in self.ROWS]
        self.assertEqual(digest(["a", "b", "c"], swapped), digest(["b", "a", "c"], self.ROWS))

    def test_type_tags(self):
        self.assertNotEqual(encode(53), encode(53.0))
        self.assertEqual(encode(decimal.Decimal("1.50")), "d:1.50")
        self.assertEqual(encode(datetime.date(2024, 3, 1)), "t:2024-03-01")
        self.assertEqual(encode([1, 2.0]), "[i:1,f:4000000000000000]")
        utc = datetime.timezone.utc
        self.assertEqual(encode(datetime.datetime(2024, 3, 1, 1, 2, 3, 4, tzinfo=utc)),
                         encode(datetime.datetime(2024, 3, 1, 1, 2, 3, 4)))


if __name__ == "__main__":
    unittest.main()
