"""Unit tests of the benchmark's metric math.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


class TailTest(unittest.TestCase):
    def test_eleventh_largest_with_enough_samples(self):
        xs = list(range(1, 101))  # 100 samples
        value, pct, n = M.tail(xs)
        self.assertEqual(value, 90)  # exactly ten samples above it
        self.assertEqual(pct, 90.0)
        self.assertEqual(n, 100)
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_percentile_follows_sample_count(self):
        self.assertEqual(M.tail(range(40))[1], 75.0)
        self.assertEqual(M.tail(range(50))[1], 80.0)
        self.assertEqual(M.tail(range(200))[1], 95.0)

    def test_too_few_samples_fall_back_to_median(self):
        value, pct, n = M.tail([5, 1, 3])
        self.assertEqual((value, pct, n), (3, 50.0, 3))
        self.assertEqual(M.tail(range(19))[1], 50.0)
        self.assertEqual(M.tail(range(20))[1], 50.0)  # 10th of 20 is the median point

    def test_order_does_not_matter(self):
        self.assertEqual(M.tail([9, 1, 5] * 10), M.tail(sorted([9, 1, 5] * 10)))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            M.tail([])


class BatchLatencyTest(unittest.TestCase):
    def test_closed_loop_from_previous_visibility(self):
        prog = [
            {"batch_id": 1, "start_ms": 1300, "rows": 10, "durations": {"triggerExecution": 200}},
            {"batch_id": 0, "start_ms": 1100, "rows": 10, "durations": {"triggerExecution": 150}},
            {"batch_id": 2, "start_ms": 1600, "rows": 0, "durations": {"triggerExecution": 5}},
        ]
        lat, rows = M.batch_latencies(1000, prog)
        # batch 0: drain call 1000 -> visible 1250; batch 1: 1250 -> 1500
        self.assertEqual(lat, [250, 250])
        self.assertEqual(rows, [10, 10])


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(M.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(M.union_ms([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(M.union_ms([]), 0)

    def test_self_time_subtracts_child_coverage(self):
        spans = [
            {"id": 1, "parent": 0, "module": "harness", "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "module": "graft.streaming", "t0": 10, "t1": 90},
            {"id": 3, "parent": 2, "module": "graft.writer", "t0": 20, "t1": 50},
            {"id": 4, "parent": 2, "module": "graft.lake", "t0": 40, "t1": 60},
            {"id": 5, "parent": 2, "module": "graft.lake", "t0": 95, "t1": 99},  # clipped away
        ]
        st = M.self_times(spans)
        self.assertEqual(st["harness"], 20)          # 100 - 80
        self.assertEqual(st["graft.streaming"], 40)  # 80 - union(20..60)
        self.assertEqual(st["graft.writer"], 30)
        self.assertEqual(st["graft.lake"], 24)       # leaves keep their full time
        # self times partition the root interval plus out-of-parent leaves
        self.assertEqual(sum(st.values()), 100 + 4 + 10)


class AttributionTest(unittest.TestCase):
    def test_innermost_graft_frame_names_the_module(self):
        site = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:100)\n"
                "graft.writer.BlockWriter$.write(BlockWriter.scala:120)\n"
                "graft.lake.LakeTable$.commit(LakeTable.scala:160)\n"
                "perfbench.Ingest.run(Workloads.scala:40)")
        self.assertEqual(M.module_of(site), "graft.writer")

    def test_benchmark_and_spark_frames(self):
        self.assertEqual(M.module_of("perfbench.Query.exec(Workloads.scala:9)"), "perfbench")
        self.assertEqual(M.module_of("org.apache.spark.sql.execution.X.run(X.scala:1)"), "spark")
        self.assertEqual(M.module_of(""), "spark")
        self.assertEqual(M.module_of("graft.GraftSession$.local(GraftSession.scala:3)"), "graft")

    def test_jobs_nest_under_the_innermost_span(self):
        spans = [{"id": 1, "parent": 0, "module": "harness", "t0": 0, "t1": 100},
                 {"id": 2, "parent": 1, "module": "graft.streaming", "t0": 10, "t1": 90}]
        jobs = [{"id": 7, "start_ms": 20, "end_ms": 30,
                 "call_site": "graft.lake.LakeTable$.commit(LakeTable.scala:1)"},
                {"id": 8, "start_ms": 95, "end_ms": 97, "call_site": ""}]
        js = M.job_spans(jobs, spans)
        self.assertEqual([(j["parent"], j["module"]) for j in js],
                         [(2, "graft.lake"), (1, "spark")])


class SampledOriginTest(unittest.TestCase):
    SAMPLES = [
        {"t": 10, "module": "graft.writer", "frame": "graft.writer.BlockWriter$.write", "maint": False},
        {"t": 20, "module": "graft.writer", "frame": "graft.writer.BlockWriter$.write", "maint": False},
        {"t": 30, "module": "graft.lake", "frame": "graft.lake.LakeTable$.scanStats", "maint": True},
        {"t": 40, "module": "graft.lake", "frame": "graft.lake.LakeTable$.casLoop", "maint": False},
        {"t": 50, "module": "graft.streaming", "frame": "", "maint": False},
    ]
    JOBS = [{"id": 1, "start_ms": 5, "end_ms": 32, "call_site": "graft.streaming.X.start(X.scala:1)"},
            {"id": 2, "start_ms": 28, "end_ms": 33, "call_site": ""}]

    def test_majority_of_samples_inside_the_job(self):
        o = M.job_origins(self.JOBS, self.SAMPLES)
        self.assertEqual(o[1], ("graft.writer", "graft.writer.BlockWriter$.write", False))
        self.assertEqual(o[2], ("graft.lake", "graft.lake.LakeTable$.scanStats", True))

    def test_unsampled_job_falls_back_to_call_site(self):
        jobs = [{"id": 3, "start_ms": 60, "end_ms": 61,
                 "call_site": "graft.lake.AutoMaintain$.compact(AutoMaintain.scala:9)"}]
        self.assertEqual(M.job_origins(jobs, self.SAMPLES)[3], ("graft.lake", "", True))

    def test_driver_time_counts_only_samples_while_no_job_runs(self):
        self.assertEqual(M.driver_ms(self.SAMPLES, self.JOBS, 0, 100, 10),
                         {"graft.lake": 10, "graft.streaming": 10})
        self.assertEqual(M.driver_ms(self.SAMPLES, self.JOBS, 45, 100, 10), {"graft.streaming": 10})
        self.assertEqual(sum(M.driver_ms(self.SAMPLES, [], 0, 100, 10).values()), 50)


class SpaceAmpTest(unittest.TestCase):
    def test_all_table_bytes_over_input_bytes(self):
        lake = [{"total_bytes": 300, "meta_bytes": 100}, {"total_bytes": 100, "meta_bytes": 20}]
        self.assertEqual(M.space_amp(lake, 200), 2.0)

    def test_zero_input_is_an_error(self):
        with self.assertRaises(ValueError):
            M.space_amp([{"total_bytes": 1}], 0)


if __name__ == "__main__":
    unittest.main()
