"""Tests of the benchmark's pure pieces.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The digest normalisation is tested on the JVM side:
`cd perfbench && sbt test`.
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_inputs  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail_percentile(xs), (90.0, 90))
        self.assertEqual(stats.p90(xs), 90)
        self.assertIsNone(stats.p90(xs[:99]))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail_percentile(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail_percentile(list(range(99)))[0], 75.0)
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50.0)
        self.assertIsNone(stats.tail_percentile(list(range(19))))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 3], 100), 5)


def span(sid, parent, start, end, name="x", trace=1):
    return {"trace": trace, "id": sid, "parent": parent, "name": name, "start": start, "end": end}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 50.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 120), span(3, 1, -5, 5)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 85.0)

    def test_nested_spans_and_layers(self):
        spans = [span(1, 0, 0, 100, "query"), span(2, 1, 0, 60, "builder"),
                 span(3, 2, 10, 30, "job"), span(4, 3, 12, 28, "stage")]
        st = stats.self_times(spans)
        self.assertEqual([st[i] for i in (1, 2, 3, 4)], [40.0, 40.0, 4.0, 16.0])
        self.assertEqual(stats.layer_self_times(spans),
                         {"query": 40.0, "builder": 40.0, "job": 4.0, "stage": 16.0})
        # the layers' self times add up to the root span's duration
        self.assertAlmostEqual(sum(st.values()), 100.0)

    def test_other_traces_are_not_children(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 0, 10, trace=2)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 10.0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)


def tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_landing_zone(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen_inputs.write(a, 7, days=2, locations=3)
            gen_inputs.write(b, 7, days=2, locations=3)
            gen_inputs.write(c, 8, days=2, locations=3)
            self.assertTrue(tree_equal(a, b))
            self.assertFalse(tree_equal(a, c))

    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            gen_tables.write(a, 0.001, 42)
            gen_tables.write(b, 0.001, 42)
            self.assertTrue(tree_equal(a, b))

    def test_expected_counts_follow_the_rows(self):
        full, late, now, locs = gen_inputs.generate(3, days=2, locations=3)
        exp = gen_inputs.expected(full, late)
        # re-deliveries inside the full batch reach bronze but not silver
        self.assertGreater(exp["full"]["bronze"], exp["full"]["silver"])
        self.assertEqual(exp["full"]["silver"], len(set(full.valid)))
        # catch-up adds late rows; re-deliveries of stored keys add nothing
        new_keys = set(late.valid) - set(full.valid)
        self.assertEqual(exp["catchup"]["silver"], exp["full"]["silver"] + len(new_keys))
        self.assertTrue(all(ts <= now for _, ts in full.valid + late.valid))
        self.assertEqual(exp["catchup"]["gold"], 2 * len(locs))
        self.assertTrue(all(1 <= h <= 24 for h in exp["hours_present"].values()))


if __name__ == "__main__":
    unittest.main()
