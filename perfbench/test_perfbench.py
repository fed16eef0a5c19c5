"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py

The generator tests are fast. The end-to-end tests build graft (first
time only) and run one short benchmark per workload on a seed of their
own; they are skipped where sbt is not installed.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(dir=HERE, prefix=".test-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_inputs_and_requests(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        pa_, pb = gen.generate(7, a, 0.01), gen.generate(7, b, 0.01)
        self.assertEqual(gen.digest(a), gen.digest(b))
        self.assertEqual(pa_, pb)
        pc = gen.generate(8, c, 0.01)
        self.assertNotEqual(gen.digest(a), gen.digest(c))
        self.assertNotEqual(pa_["kg_requests"], pc["kg_requests"])

    def test_kg_rounds_hold_every_template_once(self):
        reqs = gen.kg_requests(3, gen.corpus_tables(3, 0.01), n_rounds=5)
        size = len(gen.KG_TEMPLATES) + len(gen.KG_REGISTRY_ROWS)
        self.assertEqual(len(reqs), 5 * size)
        for r in range(5):
            kinds = sorted(t if t != "registry" else f"registry:{i}"
                           for t, i in reqs[r * size:(r + 1) * size])
            self.assertEqual(kinds, sorted(list(gen.KG_TEMPLATES) +
                                           [f"registry:{x}" for x in gen.KG_REGISTRY_ROWS]))

    def test_ingest_schedule_rounds_and_versions(self):
        out = os.path.join(self.tmp, "i")
        plan = gen.generate(5, out, 0.02)
        for i, rnd in enumerate(plan["ingest_rounds"]):
            self.assertEqual(sorted(k for k, _ in rnd), sorted(gen.INGEST_KINDS))
            self.assertTrue(all(f == f"b{i:03d}.parquet" for _, f in rnd))
        self.assertTrue(all(len(s) == gen.SEARCHES_PER_ROUND
                            for s in plan["ingest_searches"]))
        import pyarrow.parquet as pq
        v0 = pq.read_table(f"{out}/ingest/orders/b000.parquet").column("v").to_pylist()
        v1 = pq.read_table(f"{out}/ingest/orders/b001.parquet").column("v").to_pylist()
        self.assertLess(max(v0), min(v1))


class CheckerTest(unittest.TestCase):
    def test_exact_pairs(self):
        texts = {1: "a b c d e f g h i j", 2: "a b c d e f g h i x",
                 3: "q r s t u v w"}
        pairs, _ = checks._exact_pairs(texts, 0.6)
        self.assertEqual(set(pairs), {(1, 2)})
        self.assertAlmostEqual(pairs[(1, 2)], 7 / 9)

    def test_template_sql_replaces_the_pinned_id(self):
        oracle = ("WITH lt AS (SELECT l_partkey FROM lineitem WHERE l_suppkey = 1) "
                  "SELECT 'DRG_1' AS drug_id FROM lt JOIN supplier s "
                  "ON s.s_suppkey = 1 WHERE l_suppkey = 10")
        sql = checks.template_sql("drug_linked_targets", oracle, "DRG_42")
        self.assertEqual(sql, oracle.replace("= 1)", "= 42)")
                         .replace("'DRG_1'", "'DRG_42'").replace("= 1 W", "= 42 W"))
        sql = checks.template_sql("disease_known_drugs",
                                  "SELECT 'DIS_BUILDING', 'BUILDING'", "DIS_HOUSEHOLD")
        self.assertEqual(sql, "SELECT 'DIS_HOUSEHOLD', 'HOUSEHOLD'")
        # a source row whose pinned id moved fails instead of passing
        with self.assertRaises(ValueError):
            checks.template_sql("target_assoc_diseases", "SELECT 'TGT_12'", "TGT_5")

    def test_percentile(self):
        self.assertEqual(run.pct([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(run.pct([5], 90), 5)


@unittest.skipUnless(shutil.which("sbt") and shutil.which("java"), "needs sbt and java")
class EndToEndTest(unittest.TestCase):
    """A seed outside the tuning range runs clean, and the metric line
    parses with exactly the BENCHMARK.json metric names and units."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def run_bench(self, workload, seed, trace, seconds):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(trace)],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        line = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"], p.stdout)
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 1)
        return line["metrics"]

    def assert_metrics(self, metrics, spec):
        self.assertEqual(set(metrics), {m["name"] for m in spec})
        for m in spec:
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"])
            self.assertIsInstance(metrics[m["name"]]["value"], float)

    def test_kg_lookup_end_to_end(self):
        m = self.run_bench("kg-lookup", 90001, 0, seconds=1)
        self.assert_metrics(m, self.spec["end_to_end"])
        self.assertTrue(all(v["value"] > 0 for v in m.values()))

    def test_ingest_traced(self):
        # the first 40% of a traced window is untraced; 8 s puts the
        # second commit round under the tracer
        m = self.run_bench("ingest", 90002, 1, seconds=8)
        self.assert_metrics(m, self.spec["per_layer"])
        self.assertGreater(m["StreamOps.trigger_ms"]["value"], 0)
        self.assertGreater(m["Compaction.fold_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
