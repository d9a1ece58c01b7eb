"""The benchmark's own tests: seeded inputs are reproducible, and
BENCHMARK.json lists exactly the metrics the runner reports.

    python3 -m unittest graftbench/test_bench.py
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def test_same_seed_gives_identical_inputs(self):
        for workload in gen.SIZES:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(workload, 11, a)
                gen.generate(workload, 11, b)
                self.assertEqual(digest(a), digest(b), workload)

    def test_other_seed_gives_other_inputs_of_the_same_size(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma = gen.generate("dedup", 11, a)
            mb = gen.generate("dedup", 12, b)
            self.assertNotEqual(digest(a), digest(b))
            self.assertEqual(ma["rows"], mb["rows"])


class Manifest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_metric_lists_match_the_runner(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.bench["end_to_end"]],
                         report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         report.per_layer_names())

    def test_workloads_match_the_generator(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]), sorted(gen.SIZES))


class Tail(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        self.assertEqual(report.tail(list(range(100))), (90.0, 89))
        self.assertEqual(report.tail(list(range(23))), (55.0, 12))
        self.assertEqual(report.tail([1.0, 2.0]), (100.0, 2.0))


if __name__ == "__main__":
    unittest.main()
