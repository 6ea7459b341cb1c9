"""Tests of the benchmark's own generator and arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402

# The dirty traits the program's staging layer derives as `key % p`.
TRAITS = {"customer": ("c_custkey", (97, 11, 31, 7, 53, 13)),
          "part": ("p_partkey", (101, 73, 9, 5)),
          "orders": ("o_orderkey", (211, 89, 7, 3, 2))}


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        cls.tables = {}
        for name, seed in (("a", 1), ("a2", 1), ("b", 2)):
            d = os.path.join(cls.tmp.name, name)
            cls.tables[name] = gen.generate(d, seed)
            cls.dirs[name] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def files(self, name):
        return sorted(os.listdir(self.dirs[name]))

    def test_same_seed_gives_byte_identical_inputs(self):
        names = self.files("a")
        self.assertEqual(len(names), 11)
        _, mismatch, errors = filecmp.cmpfiles(self.dirs["a"], self.dirs["a2"], names,
                                               shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_another_seed_gives_different_inputs(self):
        _, mismatch, _ = filecmp.cmpfiles(self.dirs["a"], self.dirs["b"], self.files("a"),
                                          shallow=False)
        for f in ("customer.parquet", "part.parquet", "orders.parquet", "lineitem.parquet",
                  "documents.parquet", "plan.json"):
            self.assertIn(f, mismatch)

    def test_row_counts_and_key_sets_do_not_depend_on_the_seed(self):
        a, b = self.tables["a"], self.tables["b"]
        for t in a:
            col = next(iter(a[t]))
            self.assertEqual(len(a[t][col]), len(b[t][col]), t)
        for t, (key, _) in TRAITS.items():
            np.testing.assert_array_equal(np.sort(a[t][key]), np.sort(b[t][key]))

    def test_dirty_trait_counts_do_not_depend_on_the_seed(self):
        for t, (key, mods) in TRAITS.items():
            for p in mods:
                counts = [int(np.sum(self.tables[s][t][key] % p == 0)) for s in ("a", "b")]
                self.assertGreater(counts[0], 0, f"{t} {key} % {p}")
                self.assertEqual(counts[0], counts[1], f"{t} {key} % {p}")

    def test_relabelling_moves_traits_between_entities(self):
        def blank_invoice_orders(s):
            o = self.tables[s]["orders"]
            return set(o["o_custkey"][o["o_orderkey"] % 211 == 0])
        self.assertNotEqual(blank_invoice_orders("a"), blank_invoice_orders("b"))

    def test_references_stay_consistent(self):
        t = self.tables["b"]
        self.assertTrue(set(t["lineitem"]["l_orderkey"]) <= set(t["orders"]["o_orderkey"]))
        self.assertTrue(set(t["lineitem"]["l_partkey"]) <= set(t["part"]["p_partkey"]))
        self.assertTrue(set(t["orders"]["o_custkey"]) <= set(t["customer"]["c_custkey"]))
        pairs = set(zip(t["lineitem"]["l_orderkey"], t["lineitem"]["l_linenumber"]))
        self.assertEqual(len(pairs), len(t["lineitem"]["l_orderkey"]))


class ArithmeticTest(unittest.TestCase):

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 95), 95)
        self.assertEqual(metrics.percentile([7], 99), 7)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_tail_percentile_needs_ten_samples_beyond_it(self):
        self.assertEqual(metrics.supported_percentile(1000), 99)
        self.assertEqual(metrics.supported_percentile(200), 95)
        self.assertEqual(metrics.supported_percentile(199), 90)
        self.assertEqual(metrics.supported_percentile(100), 90)
        self.assertEqual(metrics.supported_percentile(40), 75)
        self.assertEqual(metrics.supported_percentile(20), 50)
        self.assertIsNone(metrics.supported_percentile(19))

    def test_template_medians_are_combined_by_geometric_mean(self):
        def op(t, ms):
            return {"template": t, "dur_ns": ms * 1_000_000}
        ops = [op("a", 10), op("a", 30), op("a", 20), op("b", 1000), op("c", 100)]
        self.assertAlmostEqual(metrics.template_p50_gmean(ops), (20 * 1000 * 100) ** (1 / 3))
        # a template's share of the window does not move the figure
        self.assertAlmostEqual(metrics.template_p50_gmean(ops + [op("b", 1000)] * 9),
                               metrics.template_p50_gmean(ops))
        # an even count's median is the mean of its middle two, not the
        # smaller one (which would make two samples a best-of-2)
        self.assertAlmostEqual(metrics.template_p50_gmean([op("a", 10), op("a", 30)]), 20)

    def test_etl_rows_per_s_divides_fact_rows_by_build_seconds(self):
        self.assertEqual(metrics.etl_rows_per_s(118_800, 24.0), 4950.0)
        self.assertEqual(metrics.etl_rows_per_s(118_800, 0.0), 0.0)

    def test_span_self_time_subtracts_the_union_of_children(self):
        spans = [
            (1, "op.query", 0, 100, 0, 1),
            (2, "olap.construct", 10, 30, 1, 1),
            (3, "spark.execute", 25, 90, 1, 1),   # overlaps its sibling by 5
            (4, "inner", 40, 50, 3, 1),
            (5, "late", 95, 120, 1, 1),           # runs past its parent: clipped
        ]
        self_t = metrics.self_times(spans)
        self.assertEqual(self_t[1], 100 - (80 + 5))
        self.assertEqual(self_t[3], 65 - 10)
        self.assertEqual(self_t[2], 20)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)


class ContractTest(unittest.TestCase):

    def test_benchmark_json_names_what_the_runner_prints(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["per_layer"]], list(layers.UNITS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, layers.UNITS)
        raw = {"timed_start_epoch": 10.0, "timed_start_ns": 0,
               "counters": {"peak_rss_mb": 1.0},
               "ops": [{"setup": False, "kind": "query", "template": "t", "start_ns": 0,
                        "dur_ns": 5}]}
        e2e = metrics.end_to_end(raw, 4.0)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         {k: u for k, (_, u) in e2e.items()})


if __name__ == "__main__":
    unittest.main()
