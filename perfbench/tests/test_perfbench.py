"""The benchmark's own tests. Run from the root of a graft checkout:

    python3 -m unittest discover -s perfbench/tests -v

The last two tests build graft and run the harness (a few minutes).
"""
import argparse
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen_tables  # noqa: E402
import gen_tweets  # noqa: E402
from stats import median, percentile, self_times  # noqa: E402


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


class StatsTest(unittest.TestCase):
    def test_percentile_refuses_a_thin_tail(self):
        self.assertEqual(percentile(list(range(20)), 0.5), 9.5)
        with self.assertRaises(ValueError):
            percentile(list(range(19)), 0.5)
        self.assertAlmostEqual(percentile(list(range(100)), 0.9), 89.1)
        with self.assertRaises(ValueError):
            percentile(list(range(99)), 0.9)

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)

    def test_self_times_split_the_root(self):
        kids = [("build", 1, 0, 4), ("job", 2, 1, 3), ("stage", 3, 2, 3), ("write", 1, 4, 10)]
        out = self_times((0, 12), kids)
        self.assertEqual(out, {"build": 2, "job": 1, "stage": 1, "write": 6, None: 2})


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        import run
        os.makedirs(run.BUILD, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.BUILD)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_tweets_same_seed_same_bytes(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        ta = gen_tweets.render(a, 5, 6, 40)
        tb = gen_tweets.render(b, 5, 6, 40)
        gen_tweets.render(c, 6, 6, 40)
        self.assertTrue(same_tree(a, b))
        self.assertEqual(ta, tb)
        self.assertFalse(same_tree(a, c))

    def test_tables_same_seed_same_bytes(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        gen_tables.generate(a, 5, 0.001)
        gen_tables.generate(b, 5, 0.001)
        gen_tables.generate(c, 6, 0.001)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, c))

    def test_x10_same_bytes_and_checked(self):
        src = os.path.join(self.tmp, "src")
        gen_tables.generate(src, 5, 0.001)
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        gen_tables.replicate_x10(src, a)  # raises on a row count or key check
        gen_tables.replicate_x10(src, b)
        self.assertTrue(same_tree(a, b))


class HarnessTest(unittest.TestCase):
    """Runs the harness with tracing on for the shortest run a workload allows."""

    @classmethod
    def setUpClass(cls):
        import run
        cls.bench = run
        cls.cp = run.build()

    def harness(self, workload):
        work = os.path.join(self.bench.BUILD, "test-work", workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        a = argparse.Namespace(workload=workload, seed=3, seconds=1, trace=1)
        attempted, failed, metrics = self.bench.run_batch(a, self.cp, work)
        with open(os.path.join(work, "out", "raw.json")) as f:
            raw = json.load(f)
        shutil.rmtree(work)
        self.assertEqual(failed, 0)
        return raw, metrics

    def test_warm_rounds_build_no_seams(self):
        raw, metrics = self.harness("batch_warm")
        with open(os.path.join(self.bench.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(set(metrics), {m["name"] for m in spec["per_layer"]})
        self.assertEqual(metrics["plancache.seam_builds"][0], 0)
        self.assertTrue(all(s["seams"] == 0 for s in raw["samples"]))
        self.assertGreater(metrics["plancache.cached_scans"][0], 0)

    def test_cold_sessions_build_seams_and_keep_confs(self):
        raw, metrics = self.harness("batch_cold")
        # q20 persists its MinHash seams in every fresh session
        self.assertIn("q20_minhash_neardup", {s["q"] for s in raw["samples"]})
        for s in raw["samples"]:
            if s["q"] == "q20_minhash_neardup":
                self.assertGreater(s["seams"], 0, s)
        self.assertGreater(metrics["plancache.seam_builds"][0], 0)
        cpus = str(self.bench.CONF["cpus"])
        self.assertEqual(raw["cold_confs"], {
            "spark.sql.shuffle.partitions": cpus,
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.master": f"local[{cpus}]",
        })


if __name__ == "__main__":
    unittest.main()
