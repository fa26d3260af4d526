#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py [-k pattern]

The plan test builds the harness and starts one JVM (about a minute on
first use); the others need only Python.
"""
import json
import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import calibrate
import gen
import oracle
import run

# The reference sf0.1 tables (TESTDATA.md), as pyarrow reads their schema.
SF01_SCHEMA = {
    "region": [("r_regionkey", "int32"), ("r_name", "string")],
    "nation": [("n_nationkey", "int32"), ("n_name", "string"), ("n_regionkey", "int32")],
    "customer": [("c_custkey", "int64"), ("c_name", "string"), ("c_nationkey", "int32"),
                 ("c_acctbal", "double"), ("c_mktsegment", "string")],
    "supplier": [("s_suppkey", "int64"), ("s_name", "string"), ("s_nationkey", "int32"),
                 ("s_acctbal", "double")],
    "part": [("p_partkey", "int64"), ("p_name", "string"), ("p_brand", "string"),
             ("p_type", "string"), ("p_size", "int32"), ("p_retailprice", "double")],
    "orders": [("o_orderkey", "int64"), ("o_custkey", "int64"), ("o_orderstatus", "string"),
               ("o_totalprice", "double"), ("o_orderdate", "timestamp[us]"),
               ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "int64"), ("l_partkey", "int64"), ("l_suppkey", "int64"),
                 ("l_linenumber", "int32"), ("l_quantity", "double"),
                 ("l_extendedprice", "double"), ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp[us]")],
    "events": [("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
               ("event_type", "string"), ("value", "double"), ("props", "string")],
    "documents": [("doc_id", "int64"), ("text", "string"), ("lang", "string"),
                  ("source", "string"), ("n_chars", "int64")],
    "embeddings": [("vec_id", "int64"), ("embedding", "list<element: float>"),
                   ("label", "int32")],
}  # "timestamp[us]" without a zone: naive timestamps, as the reference stores them


class Generator(unittest.TestCase):
    root = None

    @classmethod
    def setUpClass(cls):
        cls.root = tempfile.mkdtemp(dir=run.WORK if os.path.isdir(run.WORK) else None)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.root, ignore_errors=True)

    def test_catalogue_shape_matches_sf01(self):
        d, _ = gen.generate(self.root, "query_catalogue", 0)
        for t, schema in SF01_SCHEMA.items():
            f = pq.ParquetFile(os.path.join(d, f"{t}.parquet"))
            self.assertEqual([(x.name, str(x.type)) for x in f.schema_arrow], schema, t)
            self.assertEqual(f.metadata.num_rows, gen.SF01_ROWS[t], t)

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        a, _ = gen.generate(self.root, "daily_ingest", 5)
        b, _ = gen.generate(os.path.join(self.root, "again"), "daily_ingest", 5)
        c, _ = gen.generate(self.root, "daily_ingest", 6)
        last = gen.DEFAULTS["daily_ingest"]["days"]

        def listing(d):
            with open(os.path.join(d, "daily", f"listing_{last:02d}.json")) as f:
                return f.read()
        self.assertEqual(listing(a), listing(b))
        self.assertNotEqual(listing(a), listing(c))

    def test_cache_keys_on_arguments(self):
        a, _ = gen.generate(self.root, "corpus_curation", 1)
        b, _ = gen.generate(self.root, "corpus_curation", 1, {"size": 500})
        self.assertNotEqual(a, b)
        self.assertEqual(pq.ParquetFile(os.path.join(b, "documents.parquet")).metadata.num_rows, 500)


class Pool(unittest.TestCase):
    def test_pool_follows_from_the_committed_calibration(self):
        with open(calibrate.POOL) as f:
            self.assertEqual(json.load(f), calibrate.derive_pool())


class Draw(unittest.TestCase):
    def test_one_per_family_fixed_set_seeded_order(self):
        names, family = run.draw(1)
        with open(os.path.join(run.HERE, "pool.json")) as f:
            pool = json.load(f)
        self.assertEqual(run.draw(1)[0], names)
        other = run.draw(2)[0]
        self.assertNotEqual(other, names)           # another order...
        self.assertEqual(sorted(other), sorted(names))  # ...of the same queries
        for fam in run.FAMILIES:
            self.assertEqual(len(set(names) & set(pool["families"][fam])), 1, fam)
            self.assertTrue(all(family[n] == fam for n in pool["families"][fam]))


class Fingerprint(unittest.TestCase):
    def test_order_free_and_value_exact(self):
        con = oracle.connect()
        a = oracle.fingerprint(con, "SELECT * FROM (VALUES (1, 2.5, 'x'), (2, 3.5, 'y')) t(a, b, c)")
        b = oracle.fingerprint(con, "SELECT c, CAST(a AS BIGINT) AS a, b FROM "
                                    "(VALUES (2, 3.5, 'y'), (1, 2.5, 'x')) t(a, b, c)")
        c = oracle.fingerprint(con, "SELECT * FROM (VALUES (1, 2.5, 'x'), (2, 3.25, 'y')) t(a, b, c)")
        self.assertEqual(a, b)
        self.assertNotEqual(a["hash"], c["hash"])


class FullOutputPlans(unittest.TestCase):
    """The timed action writes every column of every row; a count() lets
    Catalyst prune. On these two queries the pruning removes operators
    the timed plan keeps."""

    def test_timed_plans_keep_what_count_prunes(self):
        cp, _ = run.build()
        d, _ = gen.generate(os.path.join(run.WORK, "inputs"), "query_catalogue", 0)
        work = tempfile.mkdtemp(dir=run.WORK)
        try:
            run.run_jvm(cp, work, {"mode": "plans", "inputs": d, "work": work, "cpus": 2,
                                   "queries": "q_window_running,ann_ivfpq_sweep"})
            with open(os.path.join(work, "plans.json")) as f:
                p = json.load(f)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        w = p["q_window_running"]
        self.assertGreaterEqual(int(w["full_windows"]), 1)
        self.assertEqual(int(w["count_windows"]), 0)
        j = p["ann_ivfpq_sweep"]
        self.assertGreater(int(j["full_joins"]), int(j["count_joins"]))


if __name__ == "__main__":
    os.makedirs(run.WORK, exist_ok=True)
    unittest.main()
