#!/usr/bin/env python3
"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The digest test builds the harness and starts one JVM (about 15 s); the
shredder cross-check needs tools/shred_osm.py and pyarrow and is skipped
without them.
"""
import json
import subprocess
import sys
import tempfile
import time
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import osmgen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SMALL = 3_000


def tree_bytes(d):
    return {str(p.relative_to(d)): p.read_bytes()
            for p in sorted(Path(d).rglob("*")) if p.is_file()}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_is_byte_identical(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            osmgen.generate(11, a, SMALL)
            osmgen.generate(11, b, SMALL)
            self.assertEqual(tree_bytes(a), tree_bytes(b))

    def test_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            osmgen.generate(11, a, SMALL)
            osmgen.generate(12, b, SMALL)
            ta, tb = tree_bytes(a), tree_bytes(b)
            self.assertEqual(ta.keys(), tb.keys())
            for k in ta:
                self.assertNotEqual(ta[k], tb[k], k)

    def test_covers_every_planted_case(self):
        with tempfile.TemporaryDirectory() as d:
            exp = osmgen.generate(3, d, SMALL)
            self.assertEqual(set(exp["phone_formats"]),
                             set(osmgen.PHONE_FORMATS))
            self.assertEqual(set(exp["street_categories"]),
                             set(osmgen.STREET_CATEGORIES))
            self.assertGreater(exp["relations"], 0)
            self.assertGreater(exp["members"], 0)
            self.assertGreater(exp["fixes_phone"], 0)
            self.assertGreater(exp["fixes_name"], 0)
            text = "".join(p.read_text() for p in
                           sorted((Path(d) / "osm").glob("*.osm")))
            self.assertIn('k="source" v="survey"', text)
            psi = (Path(d) / "psi.xml").read_text()
            self.assertIn("<Chinese_Street_Name/>", psi)

    def test_fix_densities_follow_the_paper(self):
        """Past the coverage plantings, fixes come at the paper's rates
        (p.8: 484 name fixes over 161,676 ways, 439 phone fixes over
        1,581,415 nodes and ways)."""
        with tempfile.TemporaryDirectory() as d:
            exp = osmgen.generate(9, d, 100_000)
        name = exp["fixes_name"] / exp["ways"] / (484 / 161_676)
        phone = (exp["fixes_phone"] / (exp["nodes"] + exp["ways"]) /
                 (439 / 1_581_415))
        self.assertTrue(0.6 < name < 2.0, name)
        self.assertTrue(0.6 < phone < 2.0, phone)

    def test_phone_vectors_of_the_fixtures(self):
        """Each format's output matches the FIXTURES.md section-4 vector of
        the same shape (changed, or left as it is)."""
        import random
        rng = random.Random(0)
        for fmt in osmgen.PHONE_FORMATS:
            value, changed = osmgen.phone_value(rng, fmt)
            self.assertEqual(changed, fmt not in ("foreign", "canonical"))
            self.assertTrue(value)

    @unittest.skipUnless((HERE.parent / "tools" / "shred_osm.py").is_file(),
                         "tools/shred_osm.py not present")
    def test_raw_counts_match_the_independent_shredder(self):
        try:
            import pyarrow.parquet as pq
        except ImportError:
            self.skipTest("pyarrow not installed")
        with tempfile.TemporaryDirectory() as d:
            exp = osmgen.generate(5, d, SMALL)
            got = {"nodes": 0, "ways": 0, "way_nodes": 0, "relations": 0,
                   "relation_members": 0}
            for i, shard in enumerate(sorted((Path(d) / "osm").glob("*.osm"))):
                out = Path(d) / f"shred{i}"
                subprocess.run([sys.executable,
                                str(HERE.parent / "tools" / "shred_osm.py"),
                                str(shard), str(Path(d) / "psi.xml"),
                                str(out)], check=True,
                               stdout=subprocess.DEVNULL)
                for rel in got:
                    got[rel] += pq.read_table(out / rel).num_rows
            self.assertEqual(got, {
                "nodes": exp["nodes"], "ways": exp["ways"],
                "way_nodes": exp["way_nodes"],
                "relations": exp["relations"],
                "relation_members": exp["members"]})


class OrderTest(unittest.TestCase):
    NAMES = [f"q_{i}" for i in range(40)]

    def test_same_seed_same_order(self):
        self.assertEqual(run.query_order(self.NAMES, 4, 0),
                         run.query_order(self.NAMES, 4, 0))

    def test_seeds_and_passes_permute(self):
        a = run.query_order(self.NAMES, 4, 0)
        self.assertNotEqual(a, run.query_order(self.NAMES, 5, 0))
        self.assertNotEqual(a, run.query_order(self.NAMES, 4, 1))
        self.assertEqual(sorted(a), sorted(self.NAMES))

    def test_workload_lists_are_known(self):
        heavy = run.query_list("query_heavy")
        warm = run.query_list("query_heavy.warmup")
        self.assertLessEqual(set(warm), set(heavy))
        expected = json.loads(
            (HERE / "expected" / "sf0.1.json").read_text())["queries"]
        self.assertEqual(set(expected), set(heavy))
        self.assertTrue(any(q.startswith("q_epoch_") for q in heavy))
        for q in heavy:
            self.assertFalse(q.startswith("q_osm_"))


class StatsTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertAlmostEqual(stats.p90([float(i) for i in range(1, 101)]),
                               90.1)
        self.assertIsNone(stats.p90([float(i) for i in range(1, 51)]))
        self.assertIsNone(stats.p90([1.0] * 200))  # none lie beyond
        self.assertIsNone(stats.p90([]))

    def test_reported_metrics_are_exactly_the_declared_ones(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual(set(stats.END_TO_END),
                         {m["name"] for m in bench["end_to_end"]})
        self.assertEqual(set(stats.PER_LAYER),
                         {m["name"] for m in bench["per_layer"]})
        raw = {"ops": [{"s": 0.1 * i, "ok": True} for i in range(1, 12)] +
               [{"s": 9.0, "ok": False}],
               "setup_s": 2.0, "passes_s": [5.0],
               "peak_heap_mb": 100.0, "attempted": 12, "failed": 1,
               "warmup_s": 4.0,
               "layers": {k: 1.0 for k in
                          {**stats.PER_LAYER, **stats.PRINTED_LAYER}}}
        r = stats.report(raw, "query_heavy", False)
        self.assertEqual(set(r["metrics"]), set(stats.END_TO_END))
        self.assertEqual(r["metrics"]["setup_s"]["value"], 2.0)
        self.assertAlmostEqual(r["printed"]["query_p50_s"][0], 0.6)
        self.assertFalse(r["correct"])
        self.assertAlmostEqual(r["printed"]["fail_rate"][0], 1 / 12)
        self.assertNotIn("query_p90_s", r["printed"])
        t = stats.report(raw, "query_heavy", True)
        self.assertEqual(set(t["metrics"]), set(stats.PER_LAYER))


class DigestTest(unittest.TestCase):
    def test_digest_is_order_insensitive(self):
        cp = run.build(HERE.parent)
        with tempfile.TemporaryDirectory() as w:
            (Path(w) / "tmp").mkdir()
            out = run.run_jvm(cp, {"mode": "selftest", "cores": 2,
                                   "work": w},
                              deadline=time.time() + 600)
        self.assertIn("selftest ok", out)


if __name__ == "__main__":
    unittest.main()
