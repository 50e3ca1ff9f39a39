import collections
import os
import sys
import tempfile
import unittest
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_excel  # noqa: E402
from gen_excel import COMPARE, KEY  # noqa: E402

SIZES = dict(rows=400, changed=30, cleared=20, new=15, deleted=10,
             duplicates=12, blank_keys=5)


def canon(v):
    return "" if v is None else str(v).strip()


def simulate(q1, q2):
    """The Compare rules, row at a time: keep-last over the old quarter,
    blank keys skipped, one status per compared cell."""
    old = {}
    for r in q1:
        if canon(r[KEY]):
            old[r[KEY]] = r
    counts = collections.Counter()
    for r in q2:
        if not canon(r[KEY]):
            continue
        o = old.get(r[KEY])
        for c in COMPARE:
            new, prev = canon(r[c]), None if o is None else canon(o[c])
            if o is None:
                counts["NEW"] += 1
            elif prev and not new:
                counts["CLEARED"] += 1
            elif new != prev:
                counts["CHANGED"] += 1
            else:
                counts["UNCHANGED"] += 1
    return dict(counts)


class Planted(unittest.TestCase):
    def test_expected_counts_match_the_compare_rules(self):
        for seed in (1, 7, 42):
            q1, q2, expected, _ = gen_excel.plant(seed, **SIZES)
            self.assertEqual(simulate(q1, q2), expected["status"])

    def test_planted_counts_under_a_fixed_seed(self):
        q1, q2, expected, planted = gen_excel.plant(7, **SIZES)
        self.assertEqual(expected["status"], {
            "NEW": 15 * 7, "CHANGED": 30, "CLEARED": 20,
            "UNCHANGED": (400 - 10) * 7 - 30 - 20})
        self.assertEqual(expected["marks"], {
            "CHANGED": 30, "CLEARED": 20, "NEW": 15 * len(gen_excel.HEADERS)})
        self.assertEqual(planted["rows_q1"], 400 + 12 + 5)
        self.assertEqual(planted["rows_q2"], 400 - 10 + 15 + 5)
        keys = [r[KEY] for r in q1 if r[KEY]]
        self.assertEqual(len(keys) - len(set(keys)), 12)

    def test_same_seed_same_inputs(self):
        self.assertEqual(gen_excel.plant(3, **SIZES), gen_excel.plant(3, **SIZES))
        self.assertNotEqual(gen_excel.plant(3, **SIZES)[1],
                            gen_excel.plant(4, **SIZES)[1])

    def test_generated_workbook_holds_every_cell(self):
        with tempfile.TemporaryDirectory() as d:
            out = gen_excel.generate(d, 5, **SIZES)
            with zipfile.ZipFile(out["paths"]["q1"]) as z:
                sheet = z.read("xl/worksheets/sheet1.xml").decode()
                self.assertIn("xl/styles.xml", z.namelist())
            with zipfile.ZipFile(out["paths"]["q2"]) as z:
                sheet2 = z.read("xl/worksheets/sheet1.xml").decode()
            self.assertEqual(sheet.count("<c ") + sheet2.count("<c "),
                             out["cells"])


if __name__ == "__main__":
    unittest.main()
