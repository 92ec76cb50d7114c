"""Tests for the benchmark's own arithmetic.

Run from the root of the repository:  python3 -m unittest discover perfbench
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 44 samples: p75 is the 33rd, 11 lie past it; p90 would leave 4
        self.assertEqual(stats.tail(list(range(1, 45))), (75.0, 33, 11))

    def test_median_when_only_it_has_ten_beyond(self):
        # 22 samples: p50 is the 11th, 11 lie past it; p75 would leave 5
        self.assertEqual(stats.tail(list(range(22, 0, -1))), (50.0, 11, 11))

    def test_undefined_below_ten_beyond_the_median(self):
        # 19 samples: p50 is the 10th and only 9 lie past it
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20)))[2], 10)

    def test_p99_needs_a_thousand_samples(self):
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(999)))[0], 95.0)


class P50Test(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.p50([5, 1, 3]), 3)
        self.assertEqual(stats.p50([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.p50([])


class ErrorRateTest(unittest.TestCase):
    def test_failed_over_attempted(self):
        self.assertEqual(stats.error_rate(0, 27), 0.0)
        self.assertEqual(stats.error_rate(3, 60), 0.05)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)


class HostScaleTest(unittest.TestCase):
    def test_first_quartile(self):
        self.assertEqual(stats.q1([1, 2, 3, 4, 5, 6, 7]), 2)
        self.assertEqual(stats.q1([7, 5, 3, 1]), 1.5)
        with self.assertRaises(ValueError):
            stats.q1([1])

    def test_first_quartile_burst_against_the_reference(self):
        # first quartile 50 ms against a 25 ms reference: a host half as
        # fast; the slow bursts do not move it
        self.assertEqual(stats.host_scale([50e6] * 3 + [90e6, 400e6], 25.0), 0.5)
        self.assertEqual(stats.host_scale([10e6, 30e6, 30e6, 50e6, 70e6], 25.0), 1.25)

    def test_end_to_end_times_are_scaled(self):
        raw = {
            "setup": [3000000, 5000000],
            "passes": [[4000000, False, 0], [9000000, False, 0],
                       [6000000, False, 0], [1000000, True, 0]],
            "host_burst_ns": [50e6, 50e6, 50e6, 90e6, 400e6],
            "samples": [["q1", p, False, 0, 0, 0, us, 1, "", 0, 0, 0]
                        for p, us in enumerate((100000, 300000, 200000))],
        }
        metrics, wall, _, n = run.end_to_end(raw)
        self.assertEqual(wall["setup_s"], (8.0, "s"))
        self.assertEqual(metrics["setup_s"], (4.0, "s"))
        # the median untraced pass
        self.assertEqual(wall["pass_s"], (6.0, "s"))
        self.assertEqual(metrics["pass_s"], (3.0, "s"))
        self.assertEqual(metrics["latency_p50_ms"], (100.0, "ms"))
        self.assertEqual(n, 3)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(stats.union([(5, 8), (0, 2), (1, 3), (3, 4), (9, 9)]),
                         [(0, 4), (5, 8)])

    def test_covered_with_and_without_clip(self):
        iv = [(10, 30), (20, 40), (90, 120)]
        self.assertEqual(stats.covered(iv), 60)
        self.assertEqual(stats.covered(iv, clip=(0, 100)), 40)

    def test_self_time_subtracts_covered_children(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(stats.self_time((0, 100), []), 100)

    def test_window_with_nothing_running(self):
        self.assertEqual(stats.self_time((0, 10), [(2, 4), (3, 6)]), 6)


def stage(sid, submit, complete, tasks, run_ms):
    # id, attempt, submit, complete, tasks, retries, run, cpu, gc, deser,
    # delay, in bytes, in rows, shuffle read, shuffle write, fetch wait, spill
    return [sid, 0, submit, complete, tasks, 0, run_ms, run_ms // 2, 1, 2,
            3, 100, 10, 50, 60, 0, 0]


class PerLayerTest(unittest.TestCase):
    """One traced sample of q15: a build job, then an exec job of two
    stages with a gap between them (times in ms, driver spans in us)."""

    raw = {
        "setup": [7000000, 11000000],
        "cached_bytes": 1234,
        "passes": [[2000000, True, 7], [1000000, False, 7]],
        "samples": [
            ["q15", 0, True, 1000000, 1300000, 1350000, 1750000, 5, "", 2, 1, 3],
            ["q15", 1, False, 3000000, 3100000, 3110000, 3500000, 5, "", 0, 0, 0],
        ],
        "jobs": [
            [0, "q15|0|build", 1100, 1250, [0]],
            [1, "q15|0|exec", 1360, 1740, [1, 2]],
            [2, "setup|0|tables", 10, 20, [3]],
        ],
        "stages": [
            stage(0, 1110, 1240, 4, 400),
            stage(1, 1365, 1500, 8, 300),
            stage(2, 1550, 1735, 4, 200),
            stage(3, 11, 19, 1, 5),
        ],
    }

    def test_layers(self):
        m, floor, union_err = run.per_layer(self.raw, ["q15"])
        self.assertEqual(m["build.ms"], 300)
        self.assertEqual(m["build.jobs"], 1)
        self.assertEqual(m["build.tasks"], 4)
        self.assertEqual(m["build.task_ms"], 400)
        self.assertEqual(m["self.build_ms"], 150)
        self.assertEqual(m["plan.ms"], 50)
        self.assertEqual(m["exec.ms"], 400)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.stages"], 2)
        self.assertEqual(m["exec.tasks"], 12)
        self.assertEqual(m["task.run_ms"], 500)
        self.assertEqual(m["sched.gap_ms"], 80)
        self.assertEqual(m["self.exec_ms"], 20)
        self.assertEqual(m["self.job_ms"], 20 + 60)
        self.assertEqual(m["self.stage_ms"], 130 + 135 + 185)
        self.assertEqual(union_err, 0)
        self.assertEqual(m["tables.jobs"], 1)
        self.assertEqual(m["tables.load_ms"], 11000)
        self.assertEqual(m["session.start_ms"], 7000)
        self.assertEqual(m["trace.overhead_pct"], 100)
        self.assertEqual(m["plan.exchanges"], 2)
        self.assertEqual(m["codegen.compiles"], 7)
        self.assertEqual(m["scan.rows_per_result_row"], 30 / 5)
        self.assertEqual(set(m), set(run.PER_LAYER))
        self.assertEqual(floor, {})

    def test_stage_outside_its_exec_window_breaks_the_union_check(self):
        raw = dict(self.raw, stages=[stage(0, 1110, 1240, 4, 400),
                                     stage(1, 1365, 1500, 8, 300),
                                     stage(2, 1550, 1800, 4, 200),
                                     stage(3, 11, 19, 1, 5)])
        _, _, union_err = run.per_layer(raw, ["q15"])
        self.assertAlmostEqual(union_err, 50 / 400)

    def test_job_without_a_group_is_placed_by_its_start(self):
        raw = dict(self.raw, jobs=[[0, "", 1100, 1250, [0]]] + self.raw["jobs"][1:])
        m, _, _ = run.per_layer(raw, ["q15"])
        self.assertEqual(m["build.jobs"], 1)


if __name__ == "__main__":
    unittest.main()
