"""Tests of the benchmark's own math on synthetic spans.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def job(i, start, end, site="count at X.scala:1"):
    return {"id": i, "start": start, "end": end, "call_site": site, "stages": [i], "ok": True}


def stage(i, job_id, start, end, tasks=1, task_ms=0, input_bytes=0, output_bytes=0,
          output_rows=0):
    return {"id": i, "attempt": 0, "job": job_id, "name": "s", "start": start, "end": end,
            "tasks": tasks, "task_ms": task_ms, "gc_ms": 0, "input_bytes": input_bytes,
            "input_rows": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "output_bytes": output_bytes, "output_rows": output_rows}


def op(i, start, end, build_end=None, name="q", cls="query", **kw):
    return dict({"id": i, "name": name, "cls": cls, "pass": 0, "start": start,
                 "build_end": build_end, "end": end, "count": 1, "gc_ms": 0}, **kw)


class PercentileTest(unittest.TestCase):
    def test_median_carries_sample_count(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))
        self.assertEqual(stats.percentile([4.0, 1.0, 2.0, 3.0], 50), (2.5, 4))

    def test_single_sample(self):
        self.assertEqual(stats.percentile([7.0], 90), (7.0, 1))

    def test_interpolates_between_ranks(self):
        value, n = stats.percentile([float(x) for x in range(11)], 90)
        self.assertAlmostEqual(value, 9.0)
        self.assertEqual(n, 11)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_part_only(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(stats.self_time((10, 20), [(8, 12), (11, 14), (18, 25)]), 4)
        self.assertEqual(stats.self_time((0, 5), []), 5)

    def test_parallelism_is_task_time_over_busy_wall(self):
        # 2 s of jobs (one overlap) ran 6 s of tasks
        self.assertEqual(stats.parallelism(6000, [(0, 1000), (500, 2000)]), 3.0)
        self.assertEqual(stats.parallelism(100, []), 0.0)

    def test_space_amp(self):
        self.assertEqual(stats.space_amp(300, 100), 3.0)
        with self.assertRaises(ValueError):
            stats.space_amp(1, 0)


class LayerTest(unittest.TestCase):
    def trace(self, jobs, stages):
        return {"jobs": jobs, "stages": stages, "sqls": [], "batches": []}

    def test_driver_gap_and_build_action_split(self):
        ops = [op(0, 1000.0, 2000.0, build_end=1200.0)]
        jobs = [job(0, 1050, 1150, site="localCheckpoint at Checkpoint.scala:79"),
                job(1, 1300, 1700), job(2, 1600, 1800)]
        stages = [stage(0, 0, 1050, 1150, tasks=1, task_ms=100, input_bytes=10),
                  stage(1, 1, 1300, 1700, tasks=4, task_ms=1200, input_bytes=10),
                  stage(2, 2, 1600, 1800, tasks=2, task_ms=200)]
        m, table = stats.layer_metrics(ops, self.trace(jobs, stages), 1)
        # jobs cover 1050-1150 and 1300-1800: 600 ms of a 1000 ms op
        self.assertAlmostEqual(m["driver_gap_s"], 0.4)
        self.assertEqual(m["build_jobs"], 1)
        self.assertEqual(m["action_jobs"], 2)
        self.assertAlmostEqual(m["build_s"], 0.2)
        self.assertAlmostEqual(m["action_s"], 0.8)
        self.assertEqual(m["checkpoint_jobs"], 1)
        self.assertAlmostEqual(m["checkpoint_job_s"], 0.1)
        self.assertEqual(m["scan_single_task_stages"], 1)
        self.assertAlmostEqual(m["parallelism"], 1500 / 600)
        self.assertEqual(table["job"][0], 3)
        self.assertAlmostEqual(table["action"][2], (800 - 500) / 1000)

    def test_jobs_attributed_by_time_and_averaged_per_pass(self):
        ops = [op(0, 0.0, 100.0), op(1, 200.0, 300.0)]
        jobs = [job(0, 10, 20), job(1, 150, 160), job(2, 210, 220)]
        stages = [stage(i, i, j["start"], j["end"]) for i, j in enumerate(jobs)]
        m, _ = stats.layer_metrics(ops, self.trace(jobs, stages), 2)
        # the job between the ops belongs to neither
        self.assertEqual(m["jobs"], 1.0)

    def test_commit_metrics_by_statement_type(self):
        ops = [op(0, 0.0, 100.0, name="merge", cls="write", files_added=3),
               op(1, 200.0, 300.0, name="clone", cls="clone", count=1000)]
        jobs = [job(0, 10, 50), job(1, 210, 260)]
        stages = [stage(0, 0, 10, 50, output_bytes=800, output_rows=100),
                  stage(1, 1, 210, 260, tasks=4, task_ms=100, output_bytes=5000)]
        m, _ = stats.layer_metrics(ops, self.trace(jobs, stages), 1)
        self.assertEqual(m["commit_files_added.merge"], 3)
        self.assertEqual(m["commit_bytes_per_row.merge"], 8.0)
        self.assertEqual(m["clone_output_bytes"], 5000)
        self.assertAlmostEqual(m["clone_rows_per_s"], 10000.0)
        self.assertAlmostEqual(m["clone_parallelism"], 2.0)


if __name__ == "__main__":
    unittest.main()
