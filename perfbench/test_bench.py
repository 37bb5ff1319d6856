"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The content-hash test builds the benchmark (as perfbench/run.py does) and
runs a small Spark job; it needs Spark's jars.
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertEqual(stats.beyond(20, 50), 10)

    def test_highest_level_with_ten_beyond(self):
        self.assertIsNone(stats.tail_level(19))
        self.assertEqual(stats.tail_level(20), 50.0)
        self.assertEqual(stats.tail_level(39), 50.0)
        self.assertEqual(stats.tail_level(40), 75.0)
        self.assertEqual(stats.tail_level(99), 75.0)
        self.assertEqual(stats.tail_level(100), 90.0)
        self.assertEqual(stats.tail_level(200), 95.0)
        self.assertEqual(stats.tail_level(1000), 99.0)
        self.assertEqual(stats.tail_level(10000), 99.9)


def span(i, start, end, parent=0):
    return {"id": i, "start": start, "end": end, "parent": parent}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 100), span(2, 10, 50, 1), span(3, 30, 70, 1),
                 span(4, 60, 65, 1)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 60)

    def test_children_clipped_to_parent(self):
        spans = [span(1, 0, 100), span(2, 90, 130, 1), span(3, -20, 5, 1)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 15)

    def test_nested_levels(self):
        spans = [span(1, 0, 100), span(2, 0, 80, 1), span(3, 10, 20, 2),
                 span(4, 15, 40, 2)]
        s = stats.self_times(spans)
        self.assertEqual(s[1], 20)
        self.assertEqual(s[2], 80 - 30)
        self.assertEqual(s[3], 10)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)


class Checks(unittest.TestCase):
    def record(self, outputs):
        return {"passes": [
            {"index": i, "ops": [{"name": n, "rows": r, "hash": h, "error": e}
                                 for n, r, h, e in ops]}
            for i, ops in enumerate(outputs)]}

    def test_pinned_mismatch_and_variation_fail(self):
        rec = self.record([[("a", 1, "5", None), ("b", 2, "7", None), ("c", 3, "9", None)],
                           [("a", 1, "5", None), ("b", 2, "8", None), ("c", 0, None, "boom")]])
        _, defects = run.check_batch(rec, {"a": [1, "5"], "b": [2, "7"], "c": [3, "9"]})
        failed = [(o["name"], bool(o["failure"])) for p in rec["passes"] for o in p["ops"]]
        self.assertEqual(failed, [("a", False), ("b", True), ("c", False),
                                  ("a", False), ("b", True), ("c", True)])
        self.assertEqual(len(defects), 3)


class ContentHash(unittest.TestCase):
    def test_same_hash_for_one_or_four_partitions(self):
        jars = run.spark_jars(ROOT)
        build, _ = run.build(ROOT, jars)
        with tempfile.TemporaryDirectory(dir=ROOT) as work:
            os.makedirs(os.path.join(work, "tmp"))
            log = os.path.join(work, "selftest.log")
            run.run_jvm(build, jars, ["selftest", "0", "0", "0", work, work, "-"],
                        run.clean_env()[0], log)
            with open(log) as f:
                out = json.loads([ln for ln in f if ln.startswith("{")][-1])
        self.assertEqual(out["one_partition"], out["four_partitions"])
        self.assertEqual(out["one_partition"][0], 1000)
        self.assertNotEqual(out["one_partition"], out["one_value_changed"])


if __name__ == "__main__":
    unittest.main()
