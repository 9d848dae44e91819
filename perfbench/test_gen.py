#!/usr/bin/env python3
"""Generator determinism: the same seed gives byte-identical inputs and a
different seed gives different ones, for both input sets; the recorded
stats describe what was written. Also: the seed fixes each pass's operation
order, and BENCHMARK.json declares exactly the metrics run.py prints.

Run: python3 perfbench/test_gen.py
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402


def files(top):
    return sorted(os.path.relpath(os.path.join(d, f), top)
                  for d, _, fs in os.walk(top) for f in fs)


def same_bytes(a, b):
    fa, fb = files(a), files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def test_lake_is_a_function_of_the_seed(self):
        kw = dict(rows=20_000, users=200, files=3)
        s1 = gen.gen_lake(self.path("a"), 7, **kw)
        gen.gen_lake(self.path("b"), 7, **kw)
        gen.gen_lake(self.path("c"), 8, **kw)
        self.assertTrue(same_bytes(self.path("a"), self.path("b")))
        self.assertFalse(same_bytes(self.path("a"), self.path("c")))
        self.assertEqual(len(os.listdir(self.path("a/events.parquet"))), 3)
        self.assertEqual(s1, json.load(open(self.path("a/gen_stats.json"))))
        self.assertGreater(s1["out_of_range_share"], 0.05)
        self.assertGreater(s1["duplicate_share"], 0.05)

    def test_base_is_a_function_of_the_seed(self):
        gen.gen_base(self.path("a"), 3, 0.001)
        gen.gen_base(self.path("b"), 3, 0.001)
        gen.gen_base(self.path("c"), 4, 0.001)
        self.assertTrue(same_bytes(self.path("a"), self.path("b")))
        self.assertFalse(same_bytes(self.path("a"), self.path("c")))
        self.assertEqual(len([f for f in files(self.path("a")) if f.endswith(".parquet")]), 10)

    def test_order_is_a_permutation_fixed_by_the_seed(self):
        ops = run.SUITE
        self.assertEqual(run.order(ops, 5), run.order(ops, 5))
        self.assertNotEqual(run.order(ops, 5), run.order(ops, 6))
        self.assertEqual(sorted(run.order(ops, 5)), sorted(ops))
        self.assertEqual(len(set(ops)), len(ops))

    def test_each_pass_has_its_own_seeded_order(self):
        per_pass = run.orders(run.SUITE, 9)
        self.assertEqual(per_pass, run.orders(run.SUITE, 9))
        self.assertNotEqual(per_pass, run.orders(run.SUITE, 10))
        self.assertGreater(len({tuple(o) for o in per_pass}), 1)
        self.assertTrue(all(sorted(o) == sorted(run.SUITE) for o in per_pass))


class DeclarationTest(unittest.TestCase):
    def test_benchmark_json_matches_the_printed_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertEqual(b["command"], ["python3", "perfbench/run.py"])
        self.assertEqual({w["name"] for w in b["workloads"]}, {"suite", "etl_refresh"})
        # no metric may get worse by more than set-up time may
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
