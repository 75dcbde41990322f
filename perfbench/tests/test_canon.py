"""The Python canonical form against the shared cases (DuckDB values)."""
import json
import sys
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import canon  # noqa: E402

CASES = json.loads((HERE / "canon_cases.json").read_text())


def fetch(sql):
    cur = duckdb.connect().execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


class CanonTest(unittest.TestCase):
    def test_rows(self):
        for case in CASES["rows"]:
            with self.subTest(case["name"]):
                cols, rows = fetch(case["duckdb"])
                self.assertEqual(canon.row(rows[0], canon.column_order(cols)),
                                 case["row"])

    def test_sci_matches_python_format(self):
        for v in (1.5, 0.1, 2.5e-300, 9.9999999995, 123456789012.0, 1e22):
            self.assertEqual(canon.sci(v), f"{v:.9e}")
            self.assertEqual(canon.sci(-v), f"{-v:.9e}")

    def test_digest_is_order_free_and_counts_duplicates(self):
        d = CASES["digest"]
        cols, rows = fetch(d["duckdb"])
        cols_sorted, dig = canon.digest(cols, rows)
        self.assertEqual(cols_sorted, d["columns"])
        self.assertEqual(dig, d["digest"])  # CanonSpec checks Spark's too
        self.assertEqual(canon.digest(cols, list(reversed(rows)))[1], dig)
        self.assertTrue(dig.startswith("3:"))
        self.assertNotEqual(canon.digest(cols, rows[:2])[1], dig)
        self.assertNotEqual(canon.digest(cols, rows + rows[:1])[1], dig)

    def test_digest_ignores_column_order(self):
        cols, rows = fetch(CASES["digest"]["duckdb"])
        swapped = [tuple(reversed(r)) for r in rows]
        self.assertEqual(canon.digest(list(reversed(cols)), swapped),
                         canon.digest(cols, rows))


if __name__ == "__main__":
    unittest.main()
