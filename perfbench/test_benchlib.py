"""Unit tests for the benchmark's own logic.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p95_needs_ten_samples_above(self):
        self.assertIsNone(benchlib.percentile(range(199), 0.95))
        self.assertEqual(benchlib.percentile(range(200), 0.95), 189)

    def test_median_needs_ten_samples_each_side(self):
        self.assertIsNone(benchlib.percentile(range(20), 0.5))
        self.assertEqual(benchlib.percentile(range(21), 0.5), 10)

    def test_low_percentile_needs_ten_samples_below(self):
        self.assertIsNone(benchlib.percentile(range(100), 0.05))
        self.assertEqual(benchlib.percentile(range(220), 0.05), 10)

    def test_spread_matches_quartiles(self):
        self.assertAlmostEqual(benchlib.spread([10] * 9 + [11]), 0.0)
        self.assertAlmostEqual(benchlib.spread([1, 2, 3, 4, 5, 6, 7, 8]), 4.5 / 4.5)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_payload(self):
        a, ta = benchlib.gen_lineitem_csv(7, 0, 500)
        b, tb = benchlib.gen_lineitem_csv(7, 0, 500)
        self.assertEqual(a, b)
        self.assertEqual(ta, tb)
        self.assertEqual(ta["n"], 500)

    def test_other_seed_or_round_other_payload(self):
        a, _ = benchlib.gen_lineitem_csv(7, 0, 500)
        self.assertNotEqual(a, benchlib.gen_lineitem_csv(8, 0, 500)[0])
        self.assertNotEqual(a, benchlib.gen_lineitem_csv(7, 1, 500)[0])

    def test_same_seed_same_serving_calls(self):
        args = (3, [1, 2, 3, 4], ["scan", "hash", "merge", "sort"], [10, 20, 30], 2, 5)
        self.assertEqual(benchlib.gen_serving(*args), benchlib.gen_serving(*args))
        other = (4,) + args[1:]
        self.assertNotEqual(benchlib.gen_serving(*args), benchlib.gen_serving(*other))

    def test_hash_ignores_order_and_number_rendering(self):
        data, totals = benchlib.gen_lineitem_csv(1, 0, 50)
        lines = data.decode().strip().split("\n")
        rendered = "\n".join(reversed([l.replace(".0,", ".00,", 1) for l in lines])) + "\n"
        self.assertEqual(benchlib.lines_hash(rendered.encode()), totals["hash"])

    def test_totals_reject_a_changed_row(self):
        data, totals = benchlib.gen_lineitem_csv(1, 0, 50)
        lines = data.decode().split("\n")
        cells = lines[3].split(",")
        cells[5] = "1.00"
        lines[3] = ",".join(cells)
        changed = "\n".join(lines).encode()
        self.assertNotEqual(benchlib.lines_hash(changed), totals["hash"])
        t = benchlib.csv_totals(changed)
        cols = ["n", "s_orderkey", "s_linenumber", "s_quantity", "s_extendedprice",
                "s_discount", "d_shipdate"]
        row = [str(t[c]) for c in cols]
        self.assertIsNotNone(benchlib.agg_matches(cols, row, totals))
        self.assertIsNone(benchlib.agg_matches(cols, [str(totals[c]) for c in cols], totals))


class OracleCompareTest(unittest.TestCase):
    def frame(self):
        import pandas as pd
        return pd.DataFrame({"k": [3, 1, 2], "v": [0.5, 1.25, 2.0], "s": ["c", "a", "b"]})

    def test_equal_frames_in_any_row_order(self):
        a = self.frame()
        b = a.iloc[::-1].reset_index(drop=True)[["s", "v", "k"]]
        self.assertIsNone(benchlib.compare_frames(a, b))

    def test_one_perturbed_row_is_rejected(self):
        a, b = self.frame(), self.frame()
        b.loc[1, "v"] = 1.2500001
        self.assertIn("col v", benchlib.compare_frames(a, b))

    def test_missing_row_and_dtype_change_are_rejected(self):
        a = self.frame()
        self.assertIn("rows", benchlib.compare_frames(a, a.iloc[:2]))
        b = a.copy()
        b["k"] = b["k"].astype(float)
        self.assertIn("dtypes", benchlib.compare_frames(a, b))

    def test_wire_text_rows(self):
        cols, exp = ["doc_id", "bm25"], [(4, 1.5), (9, 0.25)]
        self.assertIsNone(benchlib.compare_text_rows(cols, [["4", "1.5"], ["9", "0.25"]], cols, exp))
        self.assertIsNotNone(benchlib.compare_text_rows(cols, [["4", "1.5"], ["9", "0.26"]], cols, exp))
        self.assertIsNotNone(benchlib.compare_text_rows(cols, [["9", "0.25"], ["4", "1.5"]], cols, exp))


if __name__ == "__main__":
    unittest.main()
