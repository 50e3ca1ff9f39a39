import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402

with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
    DECLARED = json.load(f)

EXPECT = {"q_a": {"rows": 2, "digest": "2:aa:bb"},
          "q_b": {"rows": 5, "digest": "5:cc:dd"}}


def op(name, seconds, rows=None, digest=None, error=None):
    return {"name": name, "seconds": seconds, "error": error, "rows": rows,
            "digest": digest, "spans": {"exec": seconds}, "cpu_s": 2 * seconds}


def result(passes):
    return {"meta": {"cores": 4}, "setup_s": 3.0, "heap_peak_mb": 100.0,
            "warmup": [op("q_a", 1.0, 2, "2:aa:bb"), op("q_b", 1.0, 5, "5:cc:dd")],
            "passes": [{"traced": False, "ops": ops} for ops in passes]}


class Checks(unittest.TestCase):
    def test_all_correct(self):
        r = layers.score("relational", result(
            [[op("q_a", 0.5, 2, "2:aa:bb"), op("q_b", 1.5, 5, "5:cc:dd")]] * 3),
            EXPECT, DECLARED, trace=False)
        self.assertEqual((r["attempted"], r["failed"]), (8, 0))
        m = r["metrics"]
        self.assertEqual(m["pass_s"]["value"], 2.0)
        self.assertEqual(m["pass_cpu_s"]["value"], 4.0)
        self.assertAlmostEqual(m["op_gmean_s"]["value"], 0.75 ** 0.5)
        self.assertTrue(any("op_p50_s=0.5000 op_p90_s=1.5000" in line
                            for line in r["lines"]))
        self.assertEqual(set(m), {d["name"] for d in DECLARED["end_to_end"]})

    def test_a_throwing_operation_counts_and_is_never_fast(self):
        good = [op("q_a", 0.5, 2, "2:aa:bb"), op("q_b", 1.5, 5, "5:cc:dd")]
        thrown = [op("q_a", 0.5, 2, "2:aa:bb"), op("q_b", 0.01, error="boom")]
        r = layers.score("relational", result([good, thrown, thrown]),
                         EXPECT, DECLARED, trace=False)
        self.assertEqual(r["failed"], 2)
        self.assertEqual(r["metrics"]["pass_s"]["value"], 1e9)
        self.assertEqual(r["metrics"]["op_gmean_s"]["value"], 1e9)

    def test_a_wrong_output_counts_as_failed(self):
        wrong = [op("q_a", 0.5, 2, "2:aa:XX"), op("q_b", 1.5, 5, "5:cc:dd")]
        r = layers.score("relational", result([wrong]), EXPECT, DECLARED, trace=False)
        self.assertEqual(r["failed"], 1)
        self.assertTrue(any("digest" in line for line in r["lines"]))

    def test_unrecorded_query_fails(self):
        self.assertIsNotNone(layers.check("relational", op("q_new", 1.0, 1, "x"), EXPECT))

    def test_excel_compare_checks_the_planted_marks(self):
        expect = {"status": {"NEW": 7, "CHANGED": 2, "CLEARED": 1, "UNCHANGED": 10},
                  "marks": {"NEW": 22, "CHANGED": 2, "CLEARED": 1}}
        good = {"name": "compare", "marks": dict(expect["marks"])}
        bad = {"name": "compare", "marks": {"NEW": 22, "CHANGED": 3, "CLEARED": 1}}
        self.assertIsNone(layers.check("excel-roundtrip", good, expect))
        self.assertIn("CHANGED", layers.check("excel-roundtrip", bad, expect))


if __name__ == "__main__":
    unittest.main()
