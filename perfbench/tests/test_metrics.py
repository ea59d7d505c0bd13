"""Self-tests of the benchmark's arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
from benchlib.metrics import (count_failures, pass_layers, percentile, self_times,  # noqa: E402
                              work_counters)
from benchlib.report import batch_pass_layers  # noqa: E402


def span(id_, parent, name, start, end, trace="q"):
    return {"id": id_, "parent": parent, "trace": trace, "name": name,
            "start_ms": start, "end_ms": end}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertAlmostEqual(percentile(range(100), 0.9), 89.1)
        with self.assertRaises(ValueError):
            percentile(range(99), 0.9)

    def test_p75_needs_forty_samples(self):
        self.assertAlmostEqual(percentile(range(40), 0.75), 29.25)
        with self.assertRaises(ValueError):
            percentile(range(39), 0.75)

    def test_median_is_reported_from_any_sample(self):
        self.assertEqual(percentile([3, 1, 2], 0.5), 2)
        with self.assertRaises(ValueError):
            percentile([], 0.5)

    def test_interpolates_between_neighbours(self):
        self.assertAlmostEqual(percentile([0, 10] * 10, 0.5), 5.0)

    def test_p75_of_eight_passes_of_five_queries(self):
        self.assertAlmostEqual(percentile(range(40), 0.75), 29.25)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [span(1, 0, "query", 0, 100), span(2, 1, "construct", 10, 40),
                 span(3, 1, "execute", 50, 90)]
        self.assertEqual(self_times(spans), {1: 30, 2: 30, 3: 40})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "query", 0, 100), span(2, 1, "a", 10, 60), span(3, 1, "b", 40, 80)]
        self.assertEqual(self_times(spans)[1], 30)

    def test_child_overhanging_its_parent_is_clipped(self):
        spans = [span(1, 0, "plan", 0, 10), span(2, 1, "catalyst.planning", 8, 12)]
        self.assertEqual(self_times(spans)[1], 8)

    def test_pass_layers_sum_to_pass_wall(self):
        spans = [span(1, 0, "pass", 0, 1000, "warm1"),
                 span(2, 1, "query", 5, 495), span(3, 2, "construct", 10, 200),
                 span(4, 3, "catalyst.analysis", 150, 190), span(5, 2, "analyze", 200, 201),
                 span(6, 2, "optimize", 201, 230), span(7, 6, "catalyst.optimization", 202, 229),
                 span(8, 2, "plan", 230, 260), span(9, 8, "catalyst.planning", 231, 259),
                 span(10, 2, "execute", 260, 490),
                 span(11, 1, "query", 500, 990, "q2"), span(12, 11, "construct", 500, 600, "q2"),
                 span(13, 11, "execute", 600, 980, "q2")]
        layers = pass_layers(spans, spans[0])
        self.assertAlmostEqual(sum(layers.values()), 1.0)
        self.assertAlmostEqual(layers["construct_s"], 0.150 + 0.100)
        self.assertAlmostEqual(layers["analysis_s"], 0.041)
        self.assertAlmostEqual(layers["optimization_s"], 0.029)
        self.assertAlmostEqual(layers["planning_s"], 0.030)
        self.assertAlmostEqual(layers["exec_s"], 0.230 + 0.380)
        # pass gaps 5 + 5 + 10 ms, query 1 edges 5 + 5 ms, query 2 end 10 ms
        self.assertAlmostEqual(layers["unattributed_s"], 0.040)

    def test_unknown_span_name_is_an_error(self):
        with self.assertRaises(ValueError):
            pass_layers([span(1, 0, "pass", 0, 10), span(2, 1, "mystery", 1, 2)],
                        span(1, 0, "pass", 0, 10))


def stage(id_, tasks, run_ms, cpu_ns=0, input_bytes=0):
    return {"stage": id_, "num_tasks": tasks, "submit_ms": 0, "complete_ms": 10, "tasks": tasks,
            "run_ms": run_ms, "cpu_ns": cpu_ns, "gc_ms": 0, "input_bytes": input_bytes,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}


class WorkCounters(unittest.TestCase):
    def test_counts_jobs_submitted_in_the_windows(self):
        sched = {"jobs": [{"job": 0, "submit_ms": 5, "stages": [1]},
                          {"job": 1, "submit_ms": 50, "stages": [2, 3]}],
                 "stages": [stage(1, 1, 100), stage(2, 4, 400), stage(3, 0, 0)]}
        w = work_counters(sched, [(40, 60)], cpus=4, busy_s=0.5)
        # stage 3 ran no task: skipped, so not counted
        self.assertEqual((w["jobs"], w["stages"], w["tasks"]), (1, 1, 4))
        self.assertAlmostEqual(w["task_occupancy"], 0.4 / (0.5 * 4))

    def test_pass_counts_jobs_started_while_constructing(self):
        spans = [span(1, 0, "pass", 0, 1000, "warm1"), span(2, 1, "query", 0, 1000),
                 span(3, 2, "construct", 0, 600), span(4, 2, "execute", 600, 1000)]
        raw = {"spans": spans, "scheduler": {
            "jobs": [{"job": 0, "submit_ms": 100, "stages": [1]},   # a memo build
                     {"job": 1, "submit_ms": 700, "stages": [2]},   # the collect
                     {"job": 2, "submit_ms": 1500, "stages": [3]}],  # the next pass
            "stages": [stage(1, 4, 2000, cpu_ns=2e9, input_bytes=3e6),
                       stage(2, 1, 100, cpu_ns=1e8, input_bytes=1e6), stage(3, 1, 5)]}}
        p = {"start_ms": 0, "end_ms": 1000, "memo_builds": 1, "queries": [{"memo_scans": 0}]}
        out = batch_pass_layers(raw, p, cpus=4)
        self.assertEqual((out["construct_jobs"], out["jobs"], out["stages"], out["tasks"]),
                         (1, 2, 2, 5))
        self.assertAlmostEqual(out["task_cpu_s"], 2.1)
        self.assertAlmostEqual(out["input_mb"], 4.0)
        self.assertAlmostEqual(out["single_task_stage_share"], 0.5)
        self.assertAlmostEqual(out["task_occupancy"], 2.1 / (1.0 * 4))


class FailureCounting(unittest.TestCase):
    def test_each_failed_execution_and_each_wrong_query_counts(self):
        executions = [("a", None), ("b", "boom"), ("a", None), ("b", "boom"), ("c", None)]
        attempted, failed, names = count_failures(executions, {"c": "row 3 differs"})
        self.assertEqual((attempted, failed, names), (5, 3, ["b", "c"]))

    def test_clean_run_has_no_failures(self):
        self.assertEqual(count_failures([("a", None), ("b", None)], {}), (2, 0, []))


if __name__ == "__main__":
    unittest.main()
