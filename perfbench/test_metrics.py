"""Tests for the benchmark's own metric code.

    python3 perfbench/test_metrics.py
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class IntervalUnion(unittest.TestCase):
    def test_disjoint_intervals_add_up(self):
        self.assertEqual(metrics.union_length([(0, 1), (2, 5)]), 4)

    def test_overlap_and_containment_count_once(self):
        # concurrent jobs: [0,4) holds [1,2); [3,6) overlaps it
        self.assertEqual(metrics.union_length([(3, 6), (0, 4), (1, 2)]), 6)

    def test_touching_and_empty(self):
        self.assertEqual(metrics.union_length([(0, 2), (2, 3)]), 3)
        self.assertEqual(metrics.union_length([]), 0)

    def test_clip_to_a_span(self):
        self.assertEqual(metrics.clip([(0, 4), (5, 6), (9, 12)], 2, 10),
                         [(2, 4), (5, 6), (9, 10)])

    def test_driver_gap_is_wall_minus_job_union(self):
        jobs = [dict(start=s, end=e, tasks=1, run_ms=0, shuffle_write=0, shuffle_read=0,
                     spill=0, gc_ms=0, failed_tasks=0) for s, e in [(0, 300), (100, 400)]]
        got = metrics.spark_metrics("", jobs, wall=1000)["spark.driver_gap_s"]
        self.assertEqual(got, (0.6, "s"))

    def test_self_time_subtracts_children_and_jobs(self):
        spans = [dict(id=1, parent=0, name="op", layer="apps", start=0, end=100),
                 dict(id=2, parent=1, name="await", layer="stream", start=10, end=90)]
        # one trigger inside the await span, two overlapping jobs inside it
        selfs = metrics.self_times(spans, [(20, 80)], [(30, 50), (40, 60)])
        self.assertEqual(selfs["apps"], 20)
        self.assertEqual(selfs["stream"], (80 - 60) + (60 - 30))
        self.assertEqual(selfs["spark"], 30)


class Percentiles(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(metrics.percentile(xs, 0.5), 2.5)
        self.assertEqual(metrics.percentile(xs, 0.75), 3.25)
        self.assertEqual(metrics.percentile([7], 0.75), 7)

    def test_no_values_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)

    def test_sample_count_rule(self):
        # p75 needs 40 samples to leave 10 beyond it; 39 leave 9
        self.assertEqual(metrics.samples_beyond(40, 0.75), 10)
        self.assertEqual(metrics.samples_beyond(39, 0.75), 9)
        self.assertEqual(metrics.samples_beyond(20, 0.5), 10)
        self.assertEqual(metrics.samples_beyond(3, 0.75), 0)
        self.assertEqual(metrics.samples_beyond(0, 0.5), 0)


class Mapping(unittest.TestCase):
    def test_progress_maps_to_its_query_by_source_path(self):
        role = metrics.query_role
        self.assertEqual(role("FileStreamSource[file:/w/run/records]"), "route")
        self.assertEqual(role("FileStreamSource[file:/w/run/out/_staged/cancelled/b*]"),
                         "cancel")
        self.assertEqual(role("FileStreamSource[file:/w/run/out/_staged/good/b*]"), "anomaly")

    def test_triggers_group_by_role(self):
        def progress(path):
            return {"sources": [{"description": f"FileStreamSource[file:{path}]"}]}
        roles = metrics.triggers_by_role([progress("/r"), progress("/o/_staged/good/b*"),
                                          progress("/o/_staged/good/b*")])
        self.assertEqual({k: len(v) for k, v in roles.items()},
                         {"route": 1, "cancel": 0, "anomaly": 2})

    def test_sink_writes_map_to_sinks(self):
        name = metrics.sink_name
        self.assertEqual(name("file:/w/out/facturas_erroneas/_staging/b3"), "facturas_erroneas")
        self.assertEqual(name("file:/w/out/_staged/cancelled/_staging/b0"), "staged_cancelled")
        self.assertEqual(name("file:/w/out/_staged/good/_staging/b12"), "staged_good")
        self.assertEqual(name("file:/w/out/anomalias_bisect_kmeans/_staging/b1"),
                         "anomalias_bisect_kmeans")
        self.assertIsNone(name("file:/w/models/km/data"))
        self.assertIsNone(name("file:/w/out/other/_staging/b1"))

    def test_progress_timestamps(self):
        self.assertEqual(metrics.epoch_ms("1970-01-01T00:00:01.500Z"), 1500.0)


if __name__ == "__main__":
    unittest.main()
