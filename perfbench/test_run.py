"""Tests for the benchmark's Python side: seeded tables, the oracle check's
failure counting, and the metric lists the last line prints.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import run
import tables


class TablesTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_same_seed_same_tables(self):
        a, b, c = (os.path.join(self.dir, x) for x in "abc")
        tables.generate(a, 5)
        tables.generate(b, 5)
        tables.generate(c, 6)
        for t in ["documents", "part", "events", "embeddings"]:
            ta, tb, tc = (pq.read_table(os.path.join(d, f"{t}.parquet")) for d in (a, b, c))
            self.assertTrue(ta.equals(tb), t)
            self.assertFalse(ta.equals(tc), t)

    def test_documents_shape(self):
        docs = tables.documents(__import__("numpy").random.default_rng(1))
        self.assertEqual(docs.num_rows, 5000)
        self.assertEqual(len(set(docs.column("source").to_pylist())), 20)
        texts = docs.column("text").to_pylist()
        self.assertTrue(any(t.endswith(" dup") for t in texts))
        self.assertLess(len(set(texts)), len(texts))  # exact copies exist

    def test_oracle_mismatch_counts_one_failure_per_pass(self):
        data = os.path.join(self.dir, "data")
        os.makedirs(data)
        pq.write_table(pa.table({"x": [1, 2, 3]}), os.path.join(data, "t.parquet"))
        with open(os.path.join(self.dir, "oracle_sql.json"), "w") as fh:
            json.dump({"g_ok": "SELECT x FROM t", "g_bad": "SELECT x FROM t"}, fh)
        for p in ["first", "steady"]:
            for g, rows in [("g_ok", [3, 1, 2]), ("g_bad", [1, 2])]:
                os.makedirs(os.path.join(self.dir, "out", p, g))
                pq.write_table(pa.table({"x": rows}),
                               os.path.join(self.dir, "out", p, g, "part-0.parquet"))
        rep = {"failures": {}, "failed": 0}
        tables.check_gates(self.dir, rep)
        self.assertEqual(rep, {"failures": {"gate.g_bad.oracle_mismatch": 2}, "failed": 2})


class MetricListTest(unittest.TestCase):
    def test_registered_metrics_match_the_serving_lists(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.SERVE_E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.SERVE_LAYER)
        self.assertEqual({w["name"] for w in bench["workloads"]}, {"serve_read", "serve_ingest"})


if __name__ == "__main__":
    unittest.main()
