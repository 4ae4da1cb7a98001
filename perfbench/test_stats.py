"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import random
import unittest
from pathlib import Path

import run
import stats


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond_the_median(self):
        self.assertIsNone(stats.tail_percentile(range(19)))
        self.assertEqual(stats.tail_percentile(range(1, 21)), (50, 10))

    def test_highest_percentile_with_ten_samples_beyond(self):
        for n in (20, 33, 40, 57, 100, 1000, 1234):
            xs = list(range(1, n + 1))
            random.Random(n).shuffle(xs)
            p, value = stats.tail_percentile(xs)
            self.assertGreaterEqual(sum(x > value for x in xs), 10, n)
            if p < 99:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(range(1, 101)), (90, 90))
        self.assertEqual(stats.tail_percentile(range(1, 1001)), (99, 990))
        self.assertEqual(stats.tail_percentile(range(1, 41)), (75, 30))


class CoveredTest(unittest.TestCase):
    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertEqual(stats.covered_ms([(0, 10), (5, 15), (6, 7)], 0, 100), 15)

    def test_disjoint_intervals_add_up(self):
        self.assertEqual(stats.covered_ms([(30, 40), (0, 10), (10, 20)], 0, 100), 30)

    def test_clipped_to_the_window(self):
        self.assertEqual(stats.covered_ms([(-5, 5), (95, 120), (200, 300)], 0, 100), 10)

    def test_empty(self):
        self.assertEqual(stats.covered_ms([], 0, 100), 0)

    def test_driver_gap_of_an_operation(self):
        record = {
            "spans": [{"id": 0, "parent": -1, "name": "read", "start_ms": 100, "end_ms": 200},
                      {"id": 1, "parent": 0, "name": "similarity.serveCoordinated",
                       "start_ms": 110, "end_ms": 190}],
            "jobs": [dict({"id": i, "group": g, "start_ms": a, "end_ms": b},
                          **{c: 1 for c in stats.COUNTERS})
                     for i, (g, a, b) in enumerate([("span-1", 120, 140), ("span-1", 130, 150),
                                                    ("span-0", 180, 185), ("", 150, 170)])],
            "sql": [{"end_ms": 125, "analysis_ms": 2, "optimization_ms": 3, "planning_ms": 4}],
            "steps": [{"phase": "timed", "kind": "read", "span": 0, "ok": True, "dur_ms": 100}],
        }
        [op] = stats.per_op(record)
        self.assertEqual(op["jobs"], 3)
        self.assertEqual(op["driver_gap_ms"], 100 - 30 - 5)
        self.assertEqual(op["tasks"], 3)
        self.assertEqual(op["similarity.serveCoordinated.jobs"], 2)
        self.assertEqual(op["similarity.serveCoordinated.self_ms"], 80)
        self.assertEqual((op["sql_executions"], op["planning_ms"]), (1, 4))


class ResultHashTest(unittest.TestCase):
    LINES = ["city\tn_jobs", "Hà Nội\t3", "Đà Nẵng\t1", "\\N\t7"]

    def test_row_order_does_not_matter(self):
        shuffled = self.LINES[:1] + self.LINES[:0:-1]
        self.assertEqual(stats.result_hash(self.LINES), stats.result_hash(shuffled))

    def test_content_header_and_duplicates_matter(self):
        rows, digest = stats.result_hash(self.LINES)
        self.assertEqual(rows, 3)
        for other in (self.LINES[:3] + ["\\N\t8"], ["city\tn"] + self.LINES[1:],
                      self.LINES + [self.LINES[1]], self.LINES[:3]):
            self.assertNotEqual(stats.result_hash(other)[1], digest, other)

    def test_rows_are_not_concatenated_ambiguously(self):
        self.assertNotEqual(stats.result_hash(["h", "ab", "c"])[1],
                            stats.result_hash(["h", "a", "bc"])[1])


class OverheadTest(unittest.TestCase):
    def test_whole_groups_of_four_blocks(self):
        steps = [{"block": b, "traced": b % 4 in (1, 2), "dur_ms": ms}
                 for b, ms in enumerate([100, 104, 106, 110, 90, 99])]
        self.assertAlmostEqual(run.overhead_pct(steps), 100 * (210 / 210 - 1))
        steps[1]["dur_ms"] = 125
        self.assertAlmostEqual(run.overhead_pct(steps), 100 * (231 / 210 - 1))

    def test_untraced_run(self):
        self.assertEqual(run.overhead_pct([{"block": 0, "traced": False, "dur_ms": 5}]), 0)


class DefinitionTest(unittest.TestCase):
    def test_metrics_match_benchmark_json(self):
        spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
