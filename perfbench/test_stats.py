"""Unit tests for the benchmark's percentile, ratio and trace arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 95), 95.0)

    def test_single_value_and_median(self):
        self.assertEqual(stats.percentile([7.5], 90), 7.5)
        self.assertEqual(stats.median([3, 1, 2]), 2)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 101)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.supported_tail(list(range(1000)))[0], 99)
        self.assertEqual(stats.supported_tail(list(range(200)))[0], 95)
        self.assertEqual(stats.supported_tail(list(range(199)))[0], 90)
        self.assertEqual(stats.supported_tail(list(range(40)))[0], 75)
        self.assertEqual(stats.supported_tail(list(range(39)))[0], 50)
        self.assertEqual(stats.supported_tail([5.0]), (50, 5.0))


class RatioTest(unittest.TestCase):
    def test_ratio_guards_zero(self):
        self.assertEqual(stats.ratio(3, 4), 0.75)
        self.assertEqual(stats.ratio(3, 0), 0.0)

    def test_quartile_spread_matches_statistics_quantiles(self):
        vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.quartile_spread(vals), (q3 - q1) / q2)
        self.assertEqual(stats.quartile_spread([5.0] * 10), 0.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_ms([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_ms([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_ms([(0, 1), (3, 4)], 1, 3), 0)
        self.assertEqual(stats.union_ms([]), 0)

    def test_self_time_subtracts_nested_children_once(self):
        spans = [
            {"id": 1, "start_ms": 0, "end_ms": 10},
            {"id": 2, "start_ms": 1, "end_ms": 5},
            {"id": 3, "start_ms": 2, "end_ms": 3},  # inside 2, not a child of 1
            {"id": 4, "start_ms": 6, "end_ms": 8},
        ]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs, {1: 4, 2: 3, 3: 1, 4: 2})

    def test_jobs_are_leaves(self):
        spans = [
            {"id": 1, "start_ms": 0, "end_ms": 10},
            {"id": "a", "kind": "job", "start_ms": 1, "end_ms": 9},
            {"id": "b", "kind": "job", "start_ms": 2, "end_ms": 4},
        ]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs["a"], 8)
        self.assertEqual(selfs["b"], 2)
        self.assertEqual(selfs[1], 2)


def _result(trace=None):
    return {"workload": "supplier_sync", "session_s": 2.0, "setup_reps_s": [9.0, 4.0, 5.0],
            "warmup_s": 1.0, "timed_s": 6.0, "ops": 2, "attempted": 4, "failed": 1,
            "samples": {"op": [100.0, 300.0], "fresh_read": [10.0, 30.0], "edit": [50.0],
                        "edit_read": [5.0, 7.0], "items_ms": [1000.0, 2000.0, 9000.0]},
            "values": {"items": 6.0, "space_amp": 1.5},
            "retained_heap_mb": 80.0,
            "trace": trace}


class MetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        e2e = stats.end_to_end(_result())
        # The median set-up; session start and warmup are left out.
        self.assertEqual(e2e["setup_s"], (5.0, "s"))
        self.assertEqual(e2e["op_p50_ms"], (200.0, "ms"))
        # Mean items per op over the median time spent moving them, not
        # over all op time: the 9 s op does not drag the rate down.
        self.assertEqual(e2e["items_per_s"], (1.0, "1/s"))
        detail = stats.workload_detail(_result())
        self.assertEqual(detail["failed_ratio"], 0.25)
        self.assertEqual(detail["read.fresh_p50_ms"], 20.0)
        self.assertEqual(detail["edit.read_p50_ms"], 6.0)
        self.assertEqual(detail["edit_samples"], 1)

    def test_detail_without_follow_ups(self):
        # An engine error in every follow-up leaves no samples of them;
        # the run still reports its failures and its other figures.
        res = _result()
        for kind in ("fresh_read", "edit", "edit_read"):
            del res["samples"][kind]
        detail = stats.workload_detail(res)
        self.assertEqual(detail["failed_ratio"], 0.25)
        self.assertNotIn("read.fresh_p50_ms", detail)
        self.assertEqual(detail["sync.supplier_p50_s"], 0.2)

    def test_per_layer_from_trace(self):
        trace = {
            "spans": [
                {"id": 0, "op": 0, "name": "op", "layer": "op", "start_ms": 0, "end_ms": 100},
                {"id": 1, "op": 0, "name": "commit.dml", "layer": "sinks.commit",
                 "start_ms": 10, "end_ms": 60},
                {"id": 2, "op": 0, "name": "sql.parse", "layer": "sql",
                 "start_ms": 120, "end_ms": 125},
            ],
            "jobs": [
                {"site": "count at SnapshotDml.scala:1", "layer": "sinks.commit",
                 "start_ms": 20, "end_ms": 40, "stages": 2, "tasks": 8, "task_ms": 50,
                 "shuffle_bytes": 10},
                {"site": "collect at X.scala:1", "layer": "harness",
                 "start_ms": 70, "end_ms": 80, "stages": 1, "tasks": 4, "task_ms": 20,
                 "shuffle_bytes": 0},
                # Outside every op: not charged to any.
                {"site": "count at Y.scala:1", "layer": "harness",
                 "start_ms": 200, "end_ms": 210, "stages": 1, "tasks": 1, "task_ms": 1,
                 "shuffle_bytes": 0},
            ],
            "counters": [
                {"op": 0, "name": "read.files_planned", "value": 2},
                {"op": 0, "name": "read.files_total", "value": 8},
                {"op": 0, "name": "sql.statements", "value": 3},
            ],
        }
        layers = stats.per_layer(_result(trace))
        self.assertEqual(layers["spark.jobs"], (2, "count"))
        self.assertEqual(layers["spark.task_ms"], (70.0, "ms"))
        self.assertEqual(layers["spark.driver_gap_ms"], (70.0, "ms"))
        self.assertEqual(layers["commit.ms"], (50, "ms"))
        self.assertEqual(layers["commit.jobs"], (1, "count"))
        self.assertEqual(layers["commit.driver_gap_ms"], (30.0, "ms"))
        self.assertEqual(layers["sql.parse_ms"], (5, "ms"))
        self.assertEqual(layers["read.skip_ratio"], (0.75, "ratio"))
        self.assertEqual(layers["store.space_amp"], (1.5, "ratio"))
        self.assertEqual(layers["trace.uncovered_ms"], (40.0, "ms"))
        self.assertEqual(set(layers), {n for n, _ in stats.PER_LAYER})
        table = stats.layer_table(_result(trace))
        self.assertAlmostEqual(table["sinks.commit"]["self_ms"], 30.0)
        self.assertAlmostEqual(table["spark:sinks.commit"]["self_ms"], 20.0)
        self.assertAlmostEqual(table["spark:op"]["self_ms"], 10.0)
        self.assertAlmostEqual(table["(uncovered)"]["self_ms"], 40.0)


if __name__ == "__main__":
    unittest.main()
