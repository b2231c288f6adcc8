"""Tests of the benchmark's own code (no JVM needed):

    python3 -m unittest discover -s graftbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import catalog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(gen.corpus(7, 20, 10), gen.corpus(7, 20, 10))
        self.assertEqual(gen.rewrites(7, 20, 3, 2), gen.rewrites(7, 20, 3, 2))

    def test_other_seed_other_inputs(self):
        docs7, qs7 = gen.corpus(7, 20, 10)
        docs8, qs8 = gen.corpus(8, 20, 10)
        self.assertNotEqual(docs7, docs8)
        self.assertNotEqual(qs7, qs8)
        self.assertNotEqual(gen.rewrites(7, 20, 3, 2), gen.rewrites(8, 20, 3, 2))

    def test_query_mix(self):
        _, qs = gen.corpus(3, 20, 10)
        self.assertEqual([q["class"] for q in qs], gen.CLASSES * 2)
        for q in qs:
            hinted = any(i in q.get("text", "") for i in gen.INDICATORS)
            self.assertEqual(hinted, q["class"] == "scoped", q)

    def test_rewrites_keep_paths(self):
        names = {n for n, _ in gen.corpus(5, 20, 10)[0]}
        for batch in gen.rewrites(5, 20, 3, 2):
            self.assertEqual(len(batch), 2)
            self.assertTrue({n for n, _ in batch} <= names)


class CatalogTablesTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        self.assertEqual(catalog.tables(3), catalog.tables(3))

    def test_other_seed_other_tables(self):
        a, b = catalog.tables(3), catalog.tables(4)
        self.assertEqual(a["region"], b["region"])  # fixed dimension tables
        for t in ("orders", "lineitem", "events", "documents", "embeddings"):
            self.assertNotEqual(a[t], b[t], t)

    def test_keys_join(self):
        t = catalog.tables(5)
        orders = {r[0] for r in t["orders"][1]}
        self.assertTrue({r[0] for r in t["lineitem"][1]} <= orders)
        self.assertEqual(len(t["events"][1]), catalog.SIZES["events"])
        for _, vec, label in t["embeddings"][1]:
            self.assertAlmostEqual(sum(x * x for x in vec), 1.0, places=9)
            self.assertIn(label, range(catalog.SIZES["labels"]))


class PercentileTest(unittest.TestCase):
    def test_tail_percentile_leaves_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile(range(1, 101), 90), 90)
        self.assertEqual(stats.percentile([5], 50), 5)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_duration_minus_union_of_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 1, 70, 80), span(5, 3, 25, 45)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)  # children cover [10, 50] and [70, 80]
        self.assertEqual(st[3], 30 - 20)
        self.assertEqual(st[2], 20)

    def test_children_clipped_to_parent(self):
        st = stats.self_times([span(1, 0, 0, 10), span(2, 1, 5, 20)])
        self.assertEqual(st[1], 5)


class TraceOverheadTest(unittest.TestCase):
    def test_median_of_per_class_differences(self):
        spans = [{"req": "oov:3", "start": 0, "end": 300 * 10 ** 6},
                 {"req": "rare:6", "start": 0, "end": 500 * 10 ** 6},
                 {"req": "stop:5", "start": 0, "end": 900 * 10 ** 6}]
        ops = [{"kind": "untraced", "cls": "oov", "startNs": 0, "endNs": 280 * 10 ** 6},
               {"kind": "untraced", "cls": "rare", "startNs": 0, "endNs": 540 * 10 ** 6},
               {"kind": "warm", "cls": "stop", "startNs": 0, "endNs": 1}]
        self.assertAlmostEqual(run.trace_overhead_ms(spans, ops), (20 - 40) / 2)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_the_reported_metrics(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.per_layer_units())
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.INPUTS))


if __name__ == "__main__":
    unittest.main()
