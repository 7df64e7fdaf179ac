"""Tiny-scale tests of the benchmark's input generators and metric maths.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402

TINY = {
    "curate": lambda r, d: gen.curate(r, d, 200, 2, n_vec=50, dim=4),
    "stream_rw": lambda r, d: gen.stream_rw(r, d, 1, 3),
}


def generate(name, seed):
    with tempfile.TemporaryDirectory(prefix=f"perfbench-{name}-") as d:
        truth = TINY[name](random.Random(f"{name}:{seed}"), d)
        return run.tree_sha256(d), truth


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for name in TINY:
            with self.subTest(workload=name):
                (a, ta), (b, tb) = generate(name, 7), generate(name, 7)
                self.assertEqual(a, b)
                self.assertEqual(ta, tb)

    def test_other_seed_gives_other_inputs(self):
        for name in TINY:
            with self.subTest(workload=name):
                self.assertNotEqual(generate(name, 7)[0], generate(name, 8)[0])

    def test_curate_plants_duplicates(self):
        _, truth = generate("curate", 5)
        self.assertGreater(truth["n_exact_planted"], 0)
        self.assertGreater(len(truth["near_pairs"]), 0)


class MetricTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(run.pct([3, 1, 2], 0.5), 2)
        self.assertAlmostEqual(run.pct([0, 10], 0.9), 9.0)

    def test_every_metric_has_unit_and_direction(self):
        for name, unit, better in run.END_TO_END + run.PER_LAYER:
            self.assertTrue(name and unit)
            self.assertIn(better, ("lower", "higher"))


if __name__ == "__main__":
    unittest.main()
