"""The WAT generator is a pure function of its seed: same seed, same
bytes and same expected counts; another seed, other inputs.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

from gen import wat  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(BENCH), ".bench_build")


def digest(root):
    """sha256 of every file under `root`, by relative path."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=SCRATCH)

    def tearDown(self):
        self.tmp.cleanup()

    def dir(self, name):
        return os.path.join(self.tmp.name, name)

    def test_wat_same_seed_same_bytes_and_counts(self):
        a = wat.generate(self.dir("a"), 7, segments=2, pages_per_segment=150)
        b = wat.generate(self.dir("b"), 7, segments=2, pages_per_segment=150)
        c = wat.generate(self.dir("c"), 8, segments=2, pages_per_segment=150)
        self.assertEqual(a, b)
        self.assertEqual(digest(self.dir("a")), digest(self.dir("b")))
        self.assertNotEqual(digest(self.dir("a")), digest(self.dir("c")))
        # the raw link count depends on the sizes only
        self.assertEqual(a["raw_links"], c["raw_links"])
        self.assertNotEqual(a["link_domains"], c["link_domains"])

    def test_wat_counts_are_consistent(self):
        e = wat.generate(self.dir("a"), 3, segments=2, pages_per_segment=200)
        # repeated keys make compaction merge rows
        self.assertLess(e["distinct_keys"], e["raw_links"])
        self.assertGreater(e["distinct_keys"], e["raw_links"] // 2)
        self.assertLess(e["pages"], 2 * 200)  # noindex pages are dropped
        self.assertGreater(e["nofollow_links"], 0)
        with open(os.path.join(self.dir("a"), "wat.paths")) as f:
            paths = f.read().split()
        self.assertEqual(len(paths), 2)
        self.assertTrue(all(p.startswith("segments/") for p in paths))

    def test_uniform_draws_spread_wider_than_skewed(self):
        skewed = wat.generate(self.dir("s"), 4, segments=1, pages_per_segment=200, domains=150)
        uniform = wat.generate(self.dir("u"), 4, segments=1, pages_per_segment=200, domains=150,
                               zipf_s=0.0, page_zipf_s=0.0, repeat_share=0.05)
        self.assertEqual(skewed["raw_links"], uniform["raw_links"])
        self.assertGreater(len(uniform["link_domains"]), len(skewed["link_domains"]))
        self.assertGreater(len(uniform["page_hosts"]), len(skewed["page_hosts"]))
        # fewer repeated links, fewer rows for compaction to merge
        self.assertGreater(uniform["distinct_keys"], skewed["distinct_keys"])


class MetricListTest(unittest.TestCase):
    def test_benchmark_json_lists_the_reported_metrics(self):
        path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         PER_LAYER)


if __name__ == "__main__":
    unittest.main()
