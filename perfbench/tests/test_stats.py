"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import checks, stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond_it(self):
        values = list(range(1, 101))  # 1..100
        v, pct, n = stats.tail_percentile(values)
        self.assertEqual((v, pct, n), (90, 0.9, 100))
        self.assertEqual(sum(x > v for x in values), 10)

    def test_lowers_the_percentile_to_keep_ten_samples_beyond(self):
        values = list(range(1, 51))  # p90 would leave only 5 beyond
        v, pct, n = stats.tail_percentile(values)
        self.assertEqual((v, pct, n), (40, 0.8, 50))
        self.assertEqual(sum(x > v for x in values), 10)

    def test_falls_back_to_the_median_with_few_samples(self):
        self.assertEqual(stats.tail_percentile([5.0, 1.0, 3.0, 2.0, 4.0]),
                         (3.0, 0.5, 5))
        # an even count: the same interpolated median op_p50_s reports
        self.assertEqual(stats.tail_percentile([16.0, 15.0]), (15.5, 0.5, 2))

    def test_unsorted_input_and_exact_boundary(self):
        values = [float(x) for x in range(22, 0, -1)]  # 22 samples
        v, pct, _ = stats.tail_percentile(values)
        self.assertEqual((v, pct), (12.0, 12 / 22))
        self.assertEqual(sum(x > v for x in values), 10)
        values = [float(x) for x in range(20, 0, -1)]  # 20: median only
        self.assertEqual(stats.tail_percentile(values), (10.5, 0.5, 20))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}

    def test_children_are_subtracted_once_even_when_they_overlap(self):
        spans = [self.span(1, 0, 0, 1000),
                 self.span(2, 1, 100, 300),
                 self.span(3, 1, 200, 500),   # overlaps span 2
                 self.span(4, 1, 700, 800),
                 self.span(5, 2, 150, 250)]   # grandchild: not subtracted from 1
        t = stats.self_times(spans)
        self.assertAlmostEqual(t[1], 0.5)     # 1000 - (100..500) - (700..800)
        self.assertAlmostEqual(t[2], 0.1)     # 200 - 100
        self.assertAlmostEqual(t[3], 0.3)
        self.assertAlmostEqual(t[5], 0.1)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 50, 400)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 0.05)

    def test_covered(self):
        self.assertEqual(stats.covered([(0, 10), (5, 20), (30, 40)], 0, 35), 25)
        self.assertEqual(stats.covered([], 0, 10), 0)


def tree_listing(root):
    """[(path, bytes)] of every file under `root`, the listing the JVM run
    records for a pass's warehouse."""
    return [(os.path.join(d, n), os.path.getsize(os.path.join(d, n)))
            for d, _, names in os.walk(root) for n in names]


class ByteAccounting(unittest.TestCase):
    def write(self, path, n):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(b"x" * n)

    def test_space_and_write_amp_on_a_tiny_warehouse(self):
        with tempfile.TemporaryDirectory() as root:
            wh = os.path.join(root, "warehouse")
            # live snapshot of gold.t: data file, its checksum and a sidecar
            self.write(os.path.join(wh, "gold", "t", "part-0.parquet"), 600)
            self.write(os.path.join(wh, "gold", "t", ".part-0.parquet.crc"), 12)
            self.write(os.path.join(wh, "gold", "t", "_dv", "dv-1.bin"), 8)
            # retired version and the version pointer are not live
            self.write(os.path.join(wh, "gold", "t.history", "v1", "part-0.parquet"), 580)
            self.write(os.path.join(wh, "gold", "t.history", "_current"), 1)
            # a sibling whose name shares the live dir's prefix is not live
            self.write(os.path.join(wh, "gold", "t2", "part-0.parquet"), 99)
            listing = tree_listing(wh)
            self.assertEqual(sum(s for _, s in listing), 1300)
            amp = stats.space_amp(listing, [os.path.join(wh, "gold", "t")])
            self.assertAlmostEqual(amp, 1300 / 620)
            self.assertIsNone(stats.space_amp(listing, [os.path.join(wh, "none")]))
        self.assertAlmostEqual(stats.write_amp(1300, 400), 3.25)
        self.assertIsNone(stats.write_amp(10, 0))


class ClusterExpectation(unittest.TestCase):
    def test_shingles_are_three_word_windows(self):
        self.assertEqual(checks.shingles(" A b c D "),
                         frozenset(["a b c", "b c d"]))
        self.assertEqual(checks.shingles("Two words"), frozenset(["two words"]))

    def test_pairs_need_jaccard_and_the_same_block(self):
        docs = [(1, "a b c d e", "en", 9),
                (2, "a b c d x", "en", 9),     # shares 2 of 4 shingles
                (3, "a b c d e", "de", 9),     # other language
                (4, "a b c d e", "en", 150),   # other length bucket
                (5, "p q r s t", "en", 9)]
        self.assertEqual(checks.near_dup_pairs(docs), [(1, 2)])
        # 1 of 5 shingles shared: Jaccard exactly 0.2 still pairs
        self.assertEqual(checks.near_dup_pairs(
            [(7, "a b c d e", "en", 1), (8, "a b c x y", "en", 1)]), [(7, 8)])
        # 1 of 7: below the threshold
        self.assertEqual(checks.near_dup_pairs(
            [(7, "a b c d e f", "en", 1), (8, "a b c x y z", "en", 1)]), [])

    def test_components_label_by_least_live_doc(self):
        pairs = [(1, 5), (5, 9), (2, 3), (3, 20)]
        got = checks.components([1, 2, 3, 5, 9, 11], pairs)
        self.assertEqual(got, {1: (1, 1), 5: (1, 0), 9: (1, 0),
                               2: (2, 1), 3: (2, 0), 11: (11, 1)})
        # deleting the bridge doc 5 splits its component
        self.assertEqual(checks.components([1, 9], pairs),
                         {1: (1, 1), 9: (9, 1)})


if __name__ == "__main__":
    unittest.main()
