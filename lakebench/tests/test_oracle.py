"""DuckDB-side digests agree with Digest.scala (SparkSideSpec pins the
same value) and ignore row order."""
import datetime as dt
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import oracle  # noqa: E402


class OracleTest(unittest.TestCase):
    def test_pinned_digest(self):
        rows = [(1.5, "x"), (None, "y"), (0.1 + 0.2, "z")]
        self.assertEqual(oracle.digest(["b", "a"], rows), "3:a09a87bda88ac5cd")
        self.assertEqual(oracle.digest(["b", "a"], rows[::-1]), "3:a09a87bda88ac5cd")

    def test_canonical_forms(self):
        self.assertEqual(oracle.canon(decimal.Decimal("12.500")), "n125e-1")
        self.assertEqual(oracle.canon(50), oracle.canon(50.0))
        self.assertEqual(oracle.canon(dt.date(1970, 1, 2)), "t86400000000")
        self.assertEqual(oracle.canon(dt.datetime(1970, 1, 2)), "t86400000000")
        self.assertEqual(oracle.canon([1, None]), "[n1e0,null]")
        self.assertEqual(oracle.canon(0.30000000000000004), oracle.canon(0.3))

    def test_duckdb_round_trip(self):
        import duckdb
        cur = duckdb.connect().execute(
            "SELECT * FROM (VALUES (1, 2.5::DOUBLE, DATE '2024-01-01')) t(k, v, d)")
        cols = [c[0] for c in cur.description]
        self.assertEqual(oracle.digest(cols, cur.fetchall()),
                         oracle.digest(["d", "k", "v"], [(dt.datetime(2024, 1, 1), 1, 2.5)]))


if __name__ == "__main__":
    unittest.main()
