"""Tests of the benchmark's pure parts: percentiles with sample counts,
generator determinism, interval unions and per-span self time.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count_and_tail(self):
        r = stats.percentile(range(1, 101), 90)
        self.assertEqual(r["n"], 100)
        self.assertAlmostEqual(r["value"], 90.1)
        self.assertEqual(r["beyond"], 10)

    def test_median_interpolates(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50)["value"], 2.5)

    def test_small_sample_has_too_few_beyond_p90(self):
        r = stats.percentile([5.0] * 3 + [9.0], 90)
        self.assertEqual(r["n"], 4)
        self.assertLess(r["beyond"], 10)

    def test_empty(self):
        r = stats.percentile([], 50)
        self.assertEqual((r["n"], r["beyond"]), (0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.union_length([(0, 5), (3, 8)], 4, 6), 2)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 30, "end": 60},  # overlaps 2
            {"id": 4, "parent": 2, "start": 15, "end": 20},
            {"id": 5, "parent": 1, "start": 90, "end": 120},  # runs past 1
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            sa = gen.generate(11, a)
            sb = gen.generate(11, b)
            self.assertEqual(sa, sb)
            self.assertEqual(tree_digest(a), tree_digest(b))

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen.generate(11, a, parts=("corpus",))
            gen.generate(12, b, parts=("corpus",))
            self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_blob_tokens_follow_the_pipeline_tokenizer(self):
        self.assertEqual(gen.blob_tokens("Squats, Lunges and Planks"),
                         {"squats", "lunges", "planks"})
        self.assertEqual(gen.blob_tokens(""), set())

    def test_goal_taxonomy_first_match_wins(self):
        self.assertEqual(gen.classify_goal("Fat Loss and Toning"),
                         "lose_weight")
        self.assertEqual(gen.classify_goal("HIIT"), "maintain_health")
        self.assertEqual(gen.classify_goal("cycling endurance"), "endurance")


if __name__ == "__main__":
    unittest.main()
