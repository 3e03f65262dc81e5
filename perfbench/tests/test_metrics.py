"""The benchmark's arithmetic: tail rule, slot medians, steal and window shares.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class TailLatency(unittest.TestCase):
    def test_eleventh_largest_with_ten_beyond(self):
        lat = list(range(1, 101))  # 1..100
        value, pct = metrics.tail_latency(lat)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(x > value for x in lat), 10)

    def test_order_does_not_matter(self):
        lat = [5, 1, 4, 2, 3] * 6
        self.assertEqual(metrics.tail_latency(lat), metrics.tail_latency(sorted(lat)))

    def test_smallest_n_with_a_percentile_above_the_median(self):
        lat = [float(i) for i in range(21)]
        value, pct = metrics.tail_latency(lat)
        self.assertEqual(value, 10.0)  # ten samples (11..20) beyond it
        self.assertEqual(pct, round(100 * 11 / 21, 1))

    def test_small_n_reports_the_maximum(self):
        for n in (1, 2, 10, 11, 20):
            lat = [float(i) for i in range(n)]
            self.assertEqual(metrics.tail_latency(lat), (float(n - 1), 100.0), n)

    def test_failed_call_is_infinite_and_lands_in_the_tail(self):
        lat = [0.5] * 30 + [math.inf] * 11
        self.assertEqual(metrics.tail_latency(lat)[0], math.inf)
        lat = [0.5] * 30 + [math.inf] * 10
        self.assertEqual(metrics.tail_latency(lat)[0], 0.5)


class SlotMedian(unittest.TestCase):
    def test_one_slot_per_call_is_the_plain_median(self):
        vals = [3.0, 1.0, 2.0, 10.0]
        self.assertEqual(metrics.median_of_slots(vals, range(4)), (2.5, 4))

    def test_median_of_per_slot_medians(self):
        vals = [1, 1, 9, 2, 2, 2, 8, 8, 8]
        slots = ["a", "a", "a", "b", "b", "b", "c", "c", "c"]
        self.assertEqual(metrics.median_of_slots(vals, slots), (2, 3))


class RoundMedians(unittest.TestCase):
    def test_per_round_in_round_order_without_ingests(self):
        ops = [dict(id=i, kind=k, start_ms=0.0, end_ms=ms) for i, k, ms in [
            (0, "read", 3000), (1, "ingest", 9000), (2, "read", 1000), (3, "read", 500),
            (4, "read", 700)]]
        rounds = {0: 1, 1: 1, 2: 1, 3: 0, 4: 0}
        self.assertEqual(metrics.round_medians(ops, rounds), [0.6, 2.0])


class Steal(unittest.TestCase):
    # user nice system idle iowait irq softirq steal guest guest_nice
    A = [100, 0, 50, 800, 10, 0, 5, 35, 40, 0]

    def test_share_of_all_states(self):
        b = [x + d for x, d in zip(self.A, [300, 0, 100, 500, 0, 0, 0, 100, 70, 0])]
        self.assertAlmostEqual(metrics.steal_frac(self.A, b), 100 / 1000)

    def test_guest_time_is_not_counted_twice(self):
        b = [x + d for x, d in zip(self.A, [90, 0, 0, 0, 0, 0, 0, 10, 90, 5])]
        self.assertAlmostEqual(metrics.steal_frac(self.A, b), 0.1)

    def test_no_time_or_no_reading_is_zero(self):
        self.assertEqual(metrics.steal_frac(self.A, list(self.A)), 0.0)
        self.assertEqual(metrics.steal_frac(None, self.A), 0.0)
        self.assertEqual(metrics.steal_frac(self.A, None), 0.0)

    def test_reads_the_aggregate_cpu_line(self):
        with tempfile.NamedTemporaryFile("w", suffix=".stat", delete=False) as f:
            f.write("cpu  1 2 3 4 5 6 7 8 9 10\ncpu0 9 9 9 9 9 9 9 9 9 9\nintr 5\n")
        try:
            self.assertEqual(metrics.read_proc_stat(f.name), list(range(1, 11)))
        finally:
            os.unlink(f.name)
        self.assertIsNone(metrics.read_proc_stat(f.name))


class WindowShare(unittest.TestCase):
    def test_share(self):
        self.assertAlmostEqual(metrics.window_frac(16.7, 57.0), 16.7 / 57.0)
        self.assertEqual(metrics.window_frac(1.0, 0.0), 0.0)


class Accounted(unittest.TestCase):
    KEYS = ["operators.build_s", "operators.build_jobs", "operators.build_task_cpu_s",
            "operators.build_driver_s", "operators.cached_mb", "operators.leaked_mb",
            "plan.s", "plan.nodes", "plan.exchanges", "exec.s", "exec.jobs", "exec.stages",
            "exec.tasks", "exec.driver_s", "exec.sched_wait_s", "exec.task_cpu_s",
            "exec.task_cpu_ns", "exec.gc_s", "exec.shuffle_write_mb", "exec.spill_mb",
            "exec.failed_tasks", "exec.rows_read", "sources.rows_read", "sources.bytes_read",
            "client.collect_s"]

    def layer(self, i, wall_s, accounted_s):
        return dict(dict.fromkeys(self.KEYS, 0.0), id=i, kind="read", wall_s=wall_s,
                    **{"trace.accounted_s": accounted_s})

    def test_unobserved_time_lowers_the_share(self):
        layers = [self.layer(1, 0.5, 0.5), self.layer(2, 0.5, 0.3)]
        ops = [dict(id=i, start_ms=0.0, end_ms=500.0) for i in (1, 2)]
        m = metrics.per_layer({"layers": layers, "window": {"ops": ops}}, {1: {}, 2: {}}, 4)
        self.assertAlmostEqual(m["trace.accounted_frac"], 0.8)
        self.assertAlmostEqual(m["trace.unattributed_s"], 0.1)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.0)


if __name__ == "__main__":
    unittest.main()
