import datetime
import decimal
import unittest

import digest

COLUMNS = ["b", "a", "c", "d", "e"]
ROWS = [
    (1, "x", 2.5, decimal.Decimal("1.50"), datetime.datetime(2020, 1, 2, 3, 4, 5, 6)),
    (None, "y", -0.0, decimal.Decimal("0.00"), datetime.date(1996, 1, 1)),
]
# DigestSpec.scala pins the same value for the same rows, so the Spark-side
# and DuckDB-side digests of equal results are equal.
PINNED = (2, 4907013848059399488)


class DigestTest(unittest.TestCase):
    def test_pinned_value_shared_with_scala(self):
        self.assertEqual(digest.digest(COLUMNS, ROWS), PINNED)

    def test_row_order_does_not_matter(self):
        self.assertEqual(digest.digest(COLUMNS, list(reversed(ROWS))), PINNED)

    def test_column_order_does_not_matter(self):
        perm = [2, 0, 4, 1, 3]
        cols = [COLUMNS[i] for i in perm]
        rows = [tuple(r[i] for i in perm) for r in ROWS]
        self.assertEqual(digest.digest(cols, rows), PINNED)

    def test_one_altered_row_is_flagged(self):
        for i in range(len(COLUMNS)):
            altered = list(ROWS[0])
            altered[i] = "changed" if altered[i] is None else None
            with self.subTest(column=COLUMNS[i]):
                self.assertNotEqual(digest.digest(COLUMNS, [tuple(altered), ROWS[1]]), PINNED)

    def test_missing_or_duplicated_row_is_flagged(self):
        self.assertNotEqual(digest.digest(COLUMNS, ROWS[:1]), PINNED)
        self.assertNotEqual(digest.digest(COLUMNS, ROWS + ROWS[:1]), PINNED)

    def test_equal_values_of_different_precision_agree(self):
        self.assertEqual(digest.canon(decimal.Decimal("1.50")), digest.canon(decimal.Decimal("1.5")))
        self.assertEqual(digest.canon(-0.0), digest.canon(0.0))


if __name__ == "__main__":
    unittest.main()
