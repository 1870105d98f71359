"""Tests of the benchmark's metric arithmetic and workload split.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def sample(name, ms, ok=True):
    return {"name": name, "ms": ms, "ok": ok, "error": None if ok else "boom"}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 95), 95)
        self.assertEqual(metrics.percentile([7], 95), 7)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_samples_beyond(self):
        # p95 of 200 distinct samples has exactly ten above it: the least
        # sample count at which the rule holds
        self.assertEqual(metrics.beyond(list(range(200)), 95), 10)
        self.assertEqual(metrics.beyond(list(range(199)), 95), 9)
        self.assertEqual(metrics.beyond([5] * 50, 95), 0)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class FailedAccounting(unittest.TestCase):
    def got(self, samples):
        return {"window": {"samples": samples, "wall_ms": 1000.0,
                           "cpu_ms": 500.0},
                "peak_rss_mb": 1.0,
                "correctness": {"a": {}, "b": {}, "c": {}}}

    def test_thrown_and_wrong_hash_both_count(self):
        samples = [sample("a", 10), sample("b", 20, ok=False),
                   sample("c", 30), sample("c", 40), sample("a", 50)]
        r = metrics.catalog_result(self.got(samples),
                                   {"a": None, "b": None, "c": "hash mismatch"})
        # b threw once; c's answer was wrong, so both its executions fail
        self.assertEqual(r["attempted"], 5)
        self.assertEqual(r["failed"], 3)
        self.assertAlmostEqual(r["details"]["failed_frac"], 0.6)
        self.assertAlmostEqual(r["ops_per_s"], 2.0)

    def test_ingest_counts_documents(self):
        got = {"window": {"samples": [sample("ingest", 100),
                                      sample("ingest", 100, ok=False)],
                          "wall_ms": 2000.0, "cpu_ms": 40.0},
               "docs": 10, "wrong_docs": [{"url": "u"}],
               "input_bytes_per_op": 1000, "peak_rss_mb": 1.0}
        r = metrics.ingest_result(got)
        # one wrong document per good batch, every document of the thrown one
        self.assertEqual(r["attempted"], 20)
        self.assertEqual(r["failed"], 11)
        self.assertAlmostEqual(r["ops_per_s"], 4.5)
        self.assertAlmostEqual(r["cpu_ms_per_op"], 2.0)


class WorkloadSplit(unittest.TestCase):
    def test_by_tables_read(self):
        self.assertEqual(metrics.workload_of(["lineitem", "orders"]),
                         "catalog-star")
        self.assertEqual(metrics.workload_of(["events"]), "catalog-star")
        self.assertEqual(metrics.workload_of(["documents"]), "catalog-corpus")
        self.assertEqual(metrics.workload_of(["events", "embeddings"]),
                         "catalog-corpus")

    def test_every_query_in_exactly_one(self):
        classes = {"q1": {"tables": ["orders"]},
                   "q2": {"tables": ["documents", "orders"]},
                   "q3": {"tables": ["embeddings"]}}
        s = metrics.split(classes)
        self.assertEqual(s, {"catalog-star": ["q1"],
                             "catalog-corpus": ["q2", "q3"]})

    def test_unclassifiable_query_is_an_error(self):
        for tables in ([], ["some_other_table"]):
            with self.assertRaises(ValueError):
                metrics.split({"q1": {"tables": tables, "error": None}})


if __name__ == "__main__":
    unittest.main()
