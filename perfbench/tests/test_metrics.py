"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n in (11, 20, 36, 50, 99, 100, 1000):
            values = list(range(n))
            v, p, count = metrics.tail(values)
            k = math.ceil(p * n / 100)
            self.assertEqual(count, n)
            self.assertGreaterEqual(n - k, 10, n)
            # the next percentile up would leave fewer than ten beyond
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)
            self.assertEqual(v, k - 1)

    def test_known_cases(self):
        self.assertEqual(metrics.tail(list(range(100)))[:2], (89, 90))
        self.assertEqual(metrics.tail(list(range(1000)))[:2], (989, 99))
        self.assertEqual(metrics.tail(list(range(36)))[:2], (25, 72))

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail([1.0] * 10), (None, None, 10))

    def test_metric_falls_back_to_max_below_twenty_samples(self):
        v, label = metrics.tail_metric(list(range(19)))
        self.assertEqual(v, 18)
        self.assertIn("max of 19", label)
        v, label = metrics.tail_metric(list(range(20)))
        self.assertEqual((v, label[:3]), (9, "p50"))

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 5), metrics.tail(sorted([5, 1, 4, 2, 3] * 5)))


def sample(lane, status="ok", rows=3, hash_="h", pass_=1):
    return {"lane": lane, "status": status, "rows": rows, "hash": hash_, "pass": pass_,
            "error": "boom" if status != "ok" else ""}


class FailureAccountingTest(unittest.TestCase):
    ref = {"a": {"rows": 3, "hash": "h"}, "b": {"rows": 3, "hash": "h"}, "w": {"rows": 3, "hash": "h"}}

    def test_all_ok(self):
        self.assertEqual(metrics.failures([sample("a"), sample("b")], self.ref, {})[:2], (2, 0))

    def test_throw_timeout_and_wrong_hash_each_count_once(self):
        for bad in (sample("a", status="error"), sample("a", status="timeout"),
                    sample("a", hash_="x"), sample("a", rows=4)):
            attempted, failed, reasons = metrics.failures([bad, sample("b")], self.ref, {})
            self.assertEqual((attempted, failed, len(reasons)), (2, 1, 1), bad)

    def test_failed_run_with_wrong_hash_counts_once(self):
        # an errored sample carries no hash; it must not count twice
        bad = sample("a", status="error", rows=-1, hash_="")
        self.assertEqual(metrics.failures([bad], self.ref, {})[:2], (1, 1))

    def test_missing_reference_fails(self):
        self.assertEqual(metrics.failures([sample("c")], self.ref, {})[:2], (1, 1))

    def test_round_trip_must_match_source(self):
        expect = {"w": {"rows": 3, "hash": "other"}}
        self.assertEqual(metrics.failures([sample("w")], self.ref, expect)[:2], (1, 1))
        expect = {"w": {"rows": 3, "hash": "h"}}
        self.assertEqual(metrics.failures([sample("w")], self.ref, expect)[:2], (1, 0))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 5), (2, 4), (4, 6)]), 5)

    def test_children_clipped_to_parent(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (9, 20), (30, 40)]), 7)

    def test_fully_covered(self):
        self.assertEqual(metrics.self_time((0, 10), [(0, 10)]), 0)

    def test_spans_attach_to_innermost_container(self):
        spans = [
            {"id": 0, "name": "run", "parent": -1, "start": 0, "end": 100},
            {"id": 1, "name": "pass 1", "parent": 0, "start": 0, "end": 50},
            {"id": 2, "name": "lane q", "parent": 1, "start": 0, "end": 40},
            {"id": 3, "name": "build", "parent": 2, "start": 0, "end": 10},
            {"id": 4, "name": "action", "parent": 2, "start": 10, "end": 40},
            {"id": 5, "name": "job 0", "parent": -1, "start": 2, "end": 6},
            {"id": 6, "name": "job 1", "parent": -1, "start": 12, "end": 30},
            {"id": 7, "name": "job 2", "parent": -1, "start": 20, "end": 35},
        ]
        parent = metrics.assign_parents(spans)
        self.assertEqual((parent[5], parent[6], parent[7]), (3, 4, 4))
        selfs = metrics.span_self_times(spans)
        self.assertEqual(selfs[3], 6)    # build 10 - job 0 (4)
        self.assertEqual(selfs[4], 7)    # action 30 - union of jobs 1, 2 (23)
        self.assertEqual(selfs[2], 0)    # lane fully covered by build + action
        self.assertEqual(selfs[1], 10)   # pass 50 - lane 40
        self.assertEqual(selfs[0], 50)


class PerLayerTest(unittest.TestCase):
    """One traced pass with a catalog lane and a writer lane."""
    raw = {
        "cpus": 2, "floor_ms": 10.0, "heap_after_gc_mb": 1.0, "driver_gc_s": 0.0,
        "counts": {"Tables.input_rows": 600.0, "operators.join_rows_out": 40.0,
                   "operators.result_rows": 4.0},
        "passes": [{"pass": 1, "kind": "traced", "wall_s": 1.0}],
        "samples": [
            {"pass": 1, "lane": "q_a", "status": "ok", "rows": 4, "build_s": 0.2, "action_s": 0.1},
            {"pass": 1, "lane": "w_x", "status": "ok", "rows": 2, "build_s": 0.5, "action_s": 0.1},
        ],
        "spans": [
            {"id": 0, "name": "run", "parent": -1, "start": 0, "end": 1000},
            {"id": 1, "name": "pass 1", "parent": 0, "start": 0, "end": 900},
            {"id": 2, "name": "lane q_a", "parent": 1, "start": 0, "end": 300},
            {"id": 3, "name": "build", "parent": 2, "start": 0, "end": 200},
            {"id": 4, "name": "action", "parent": 2, "start": 200, "end": 300},
            {"id": 5, "name": "lane w_x", "parent": 1, "start": 300, "end": 900},
            {"id": 6, "name": "build", "parent": 5, "start": 300, "end": 800},
            {"id": 7, "name": "action", "parent": 5, "start": 800, "end": 900},
            {"id": 8, "name": "job 0", "parent": -1, "start": 50, "end": 100},
            {"id": 9, "name": "job 1", "parent": -1, "start": 400, "end": 600},
        ],
    }

    def test_catalog_layer_leaves_out_the_writers(self):
        m = metrics.per_layer(self.raw, 1.0)
        self.assertAlmostEqual(m["catalog.build_s"][0], 0.2)
        self.assertEqual(m["catalog.build_jobs"][0], 1)
        self.assertAlmostEqual(m["catalog.build_self_s"][0], 0.15)
        self.assertAlmostEqual(m["sources.write_s"][0], 0.5)

    def test_funnel_and_scan_ratios(self):
        m = metrics.per_layer(self.raw, 1.0)
        self.assertAlmostEqual(m["operators.yield"][0], 0.1)
        # rows examined per row returned counts every lane's result
        self.assertAlmostEqual(m["Tables.rows_per_result_row"][0], 100.0)


if __name__ == "__main__":
    unittest.main()
