"""Unit tests of the benchmark's own arithmetic and seeding.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import outcheck  # noqa: E402
import plan  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_small_runs_have_no_tail(self):
        for n in (0, 1, 10, 13, 50):
            self.assertIsNone(stats.tail_percentile(n))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(xs, 90), 90)
        self.assertEqual(stats.nearest_rank(xs, 50), 50)
        self.assertEqual(stats.nearest_rank([3.0], 90), 3.0)
        # exactly ten samples lie above the p90 of 100
        self.assertEqual(sum(x > stats.nearest_rank(xs, 90) for x in xs), 10)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "op": 0, "name": name,
            "start_ms": start, "end_ms": end}


class SelfTime(unittest.TestCase):
    def test_parent_minus_union_of_children(self):
        spans = [span(1, -1, 0, 100),
                 span(2, 1, 10, 40), span(3, 1, 30, 50),  # overlap: 10..50
                 span(4, 1, 70, 80)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[4], 10)

    def test_children_clipped_to_parent(self):
        spans = [span(1, -1, 10, 20), span(2, 1, 0, 15), span(3, 1, 18, 30)]
        self.assertEqual(stats.self_times(spans)[1], 10 - 5 - 2)

    def test_grandchildren_do_not_count_twice(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 0, 60), span(3, 2, 0, 60)]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (40, 0, 60))

    def test_self_times_sum_to_root(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 5, 45), span(3, 2, 10, 20),
                 span(4, 1, 50, 90)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 100)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 1), (1, 2), (5, 6)]), 3)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)


class Seeding(unittest.TestCase):
    def test_same_seed_same_op_order(self):
        for w in ("interactive", "dedup_batch"):
            self.assertEqual(plan.op_passes(w, 7, 5), plan.op_passes(w, 7, 5))
            self.assertNotEqual(plan.op_passes(w, 7, 5), plan.op_passes(w, 8, 5))

    def test_passes_are_permutations(self):
        for p in plan.op_passes("interactive", 3, 4):
            self.assertEqual(sorted(p), sorted(plan.INTERACTIVE_OPS))

    def test_same_seed_same_ingest_counts(self):
        a, b = plan.ingest_plan(11, 5000), plan.ingest_plan(11, 5000)
        self.assertEqual(a, b)
        self.assertNotEqual([c["expect"] for c in a],
                            [c["expect"] for c in plan.ingest_plan(12, 5000)])

    def test_planted_counts_are_consistent(self):
        live = set(range(500))
        ever = 500
        for c in plan.ingest_plan(5, 500):
            e = c["expect"]
            self.assertTrue(set(c["changed"]) <= live and set(c["removed"]) <= live)
            self.assertFalse(set(c["changed"]) & set(c["removed"]))
            self.assertFalse(set(c["added"]) & live)
            self.assertEqual(e["unchanged"], len(live) - e["changed"] - e["removed"])
            live = (live - set(c["removed"])) | set(c["added"])
            ever += len(c["added"])
            self.assertEqual((e["live"], e["latest"]), (len(live), ever))
            self.assertEqual(e["report_lines"], e["changed"] + e["removed"] + e["added"])


class ResultHash(unittest.TestCase):
    """Frames tools/check.py calls equal hash equal, and only those."""

    def frame(self, **cols):
        import pandas as pd
        return pd.DataFrame(cols)

    def test_column_order_and_signed_zero_do_not_matter(self):
        a = self.frame(x=[1, 2], y=[0.0, float("nan")])
        b = self.frame(y=[-0.0, float("nan")], x=[1, 2])
        self.assertEqual(outcheck.frame_hash(a), outcheck.frame_hash(b))

    def test_values_dtypes_and_row_order_matter(self):
        base = outcheck.frame_hash(self.frame(x=[1, 2]))
        self.assertNotEqual(base, outcheck.frame_hash(self.frame(x=[2, 1])))
        self.assertNotEqual(base, outcheck.frame_hash(self.frame(x=[1.0, 2.0])))
        self.assertNotEqual(base, outcheck.frame_hash(self.frame(x=[1, 3])))

    def test_array_cells_compare_by_list(self):
        import numpy as np
        a = self.frame(v=[np.array([1.5, 2.0]), np.array([])])
        b = self.frame(v=[[1.5, 2.0], []])
        self.assertEqual(outcheck.frame_hash(a), outcheck.frame_hash(b))


if __name__ == "__main__":
    unittest.main()
