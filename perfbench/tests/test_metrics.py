"""Unit tests for the benchmark's arithmetic: percentiles, interval
self-time, the layer split, attribution of Spark work to operations,
stall detection, replica lag and the scaling to the reference host.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_linear_interpolation_matches_inclusive_quantiles(self):
        xs = [7.0, 1.0, 3.0, 10.0, 4.0]
        self.assertEqual(metrics.percentile(xs, 50), 4.0)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 8.8)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 10.0)
        q = statistics.quantiles(xs, n=10, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 90), q[8])

    def test_single_value_and_empty(self):
        self.assertEqual(metrics.percentile([2.5], 90), 2.5)
        self.assertEqual(metrics.median([]), 0.0)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(metrics.union([(5, 7), (1, 3), (2, 4), (7, 8), (9, 9)]),
                         [(1, 4), (5, 8)])

    def test_self_time_subtracts_covered_part_only(self):
        # parent 0..10, children cover 2..5 and 4..6 and 9..12 (clipped)
        self.assertEqual(metrics.self_time((0, 10), [(2, 5), (4, 6), (9, 12)]), 10 - 4 - 1)
        self.assertEqual(metrics.self_time((0, 10), []), 10)
        self.assertEqual(metrics.self_time((0, 10), [(-5, 20)]), 0)

    def test_layer_split_buckets_sum_to_the_operation(self):
        op = (100.0, 200.0)
        execs = [(110.0, 150.0), (160.0, 190.0)]
        jobs = [(120.0, 130.0), (140.0, 170.0)]  # the second job outlives its execution
        s = metrics.layer_split(op, execs, jobs)
        self.assertEqual(s["job_wall_ms"], 40.0)
        self.assertEqual(s["between_jobs_ms"], (40.0 + 30.0 - 10.0) - 20.0)  # busy 80, jobs 40
        self.assertEqual(s["outside_exec_ms"], 100.0 - 80.0)
        self.assertEqual(sum(s.values()), 100.0)


class Host(unittest.TestCase):
    SAMPLES = [(0.0, 0.0), (50.0, 100.0), (100.0, 200.0), (900.0, 210.0), (950.0, 300.0)]

    def test_stalls_are_long_sampler_gaps(self):
        self.assertEqual(metrics.stalls(self.SAMPLES), [(100.0, 900.0)])

    def test_lateness_counts_every_late_wakeup(self):
        self.assertAlmostEqual(metrics.sampler_lateness_s(self.SAMPLES), 0.75)

    def test_cpu_util_is_cpu_over_wall_times_cores(self):
        self.assertAlmostEqual(metrics.cpu_util(self.SAMPLES, 0.0, 100.0, 4), 200.0 / (100.0 * 4))

    def test_flagging_keeps_every_operation(self):
        ops = [{"t0": 10.0, "t1": 90.0}, {"t0": 150.0, "t1": 250.0}, {"t0": 950.0, "t1": 960.0}]
        out = metrics.flag_stalled(ops, [(100.0, 900.0)])
        self.assertEqual([o["stalled"] for o in out], [False, True, False])
        self.assertEqual(len(out), 3)


class Attribution(unittest.TestCase):
    def test_tagged_work_belongs_to_its_operation_only(self):
        spans = {
            "sql_starts": [{"exec": 1, "t0": 10.0, "tags": "pb-op-0"},
                           {"exec": 2, "t0": 25.0, "tags": ""},           # replica stream, untagged
                           {"exec": 3, "t0": 60.0, "tags": "pb-op-9"}],   # not a timed operation
            "sql_ends": [{"exec": 1, "t1": 20.0}, {"exec": 2, "t1": 30.0}, {"exec": 3, "t1": 70.0}],
            "jobs": [{"job": 1, "t0": 12.0, "tags": "pb-op-0", "stages": [1, 2]},
                     {"job": 2, "t0": 26.0, "tags": "", "stages": [3]},
                     {"job": 3, "t0": 61.0, "tags": "pb-op-9", "stages": [4]}],
            "job_ends": [{"job": 1, "t1": 18.0}, {"job": 2, "t1": 29.0}, {"job": 3, "t1": 65.0}],
        }
        ops = [{"id": 0, "t0": 5.0, "t1": 22.0}, {"id": 1, "t0": 24.0, "t1": 40.0}]
        execs, jobs = metrics.owners({"workload": "table_mixed", "spans": spans}, ops)
        self.assertEqual({k: e[0] for k, e in execs.items()}, {"1": 0, "2": None, "3": None})
        self.assertEqual({k: j[0] for k, j in jobs.items()}, {1: 0, 2: None, 3: None})
        self.assertEqual(jobs[1], (0, 12.0, 18.0, [1, 2]))


class ReferenceHost(unittest.TestCase):
    REF = metrics.PROBE_REF_CPU_MS

    def raw(self, setup_cpu, window_cpu):
        """A run on a host whose probe rounds took `setup_cpu` before the
        window (0-100 ms) and `window_cpu` inside it (100-300 ms)."""
        probe = [[t, 1.0, setup_cpu] for t in (10.0, 20.0, 30.0)]
        probe += [[t, 1.0, window_cpu] for t in (100.0, 200.0)] + [[250.0, 1.0, 9 * window_cpu]]
        return {
            "workload": "table_mixed", "window": [100.0, 300.0],
            "setup": {"fixture_s": [9.0, 2.0, 2.0], "warmup_s": 1.0, "replica_start_s": 1.0},
            "values": {"probe": probe, "retained_mb": 300.0,
                       "window_cpu_ms": 1000.0 + 2 * window_cpu + 9 * window_cpu},
            "ops": [{"kind": "write", "t0": 110.0, "t1": 150.0, "ok": True},
                    {"kind": "read", "t0": 210.0, "t1": 230.0, "ok": True},
                    {"kind": "warmup", "t0": 50.0, "t1": 90.0, "ok": True}],
        }

    def test_reference_host_timings_are_unscaled(self):
        e = metrics.end_to_end(self.raw(self.REF, self.REF))
        self.assertAlmostEqual(e["setup_s"], 4.0)          # median fixture + warm-up + replica
        self.assertAlmostEqual(e["op_mean_ms"], 30.0)      # the two timed operations
        self.assertAlmostEqual(e["cpu_ms_per_op"], 500.0)  # the probe's own CPU taken out
        self.assertEqual(e["retained_mb"], 300.0)

    def test_timings_from_a_host_half_as_fast_are_halved(self):
        e = metrics.end_to_end(self.raw(2 * self.REF, 2 * self.REF))
        self.assertAlmostEqual(e["setup_s"], 2.0)
        self.assertAlmostEqual(e["op_mean_ms"], 15.0)
        self.assertAlmostEqual(e["cpu_ms_per_op"], 250.0)

    def test_set_up_and_window_each_use_their_own_rounds(self):
        setup_f, window_f = metrics.speed_factors(self.raw(self.REF, 2 * self.REF))
        self.assertAlmostEqual(setup_f, 1.0)
        self.assertAlmostEqual(window_f, 0.5)  # the median ignores the one slow round


class ReplicaLag(unittest.TestCase):
    def test_first_batch_covering_the_version_after_the_commit(self):
        commits = [(3, 1000.0), (4, 1100.0), (5, 1500.0)]
        progress = [
            {"t0": 900.0, "duration_ms": 50.0, "end_offset": "3"},    # ends before v3 committed
            {"t0": 1200.0, "duration_ms": 100.0, "end_offset": "4"},  # covers v3 and v4
            {"t0": 1600.0, "duration_ms": 200.0, "end_offset": "5"},
            {"t0": 1700.0, "duration_ms": 10.0, "end_offset": ""},     # no offset: ignored
        ]
        self.assertEqual(metrics.replica_lags(commits, progress), [300.0, 200.0, 300.0])


if __name__ == "__main__":
    unittest.main()
