"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s benchmark/tests
"""
import hashlib
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import oracle  # noqa: E402


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_us": start, "end_us": end}


class TailTest(unittest.TestCase):
    def test_leaves_ten_beyond(self):
        for n in range(20, 300):
            xs = list(range(n))
            value, p = metrics.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10, n)
            self.assertAlmostEqual(p, 100.0 * (n - 10) / n)

    def test_is_the_highest_such_percentile(self):
        # one rank higher would leave only nine samples beyond
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90.0))
        self.assertEqual(metrics.tail(list(range(1, 41))), (30, 75.0))

    def test_never_below_the_median(self):
        for n in range(1, 20):
            xs = list(range(1, n + 1))
            value, p = metrics.tail(xs)
            self.assertEqual(value, metrics.percentile(xs, 50), n)
            self.assertGreaterEqual(p, 50.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 6
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_nearest_rank_percentile(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(metrics.percentile(xs, 50), 20)
        self.assertEqual(metrics.percentile(xs, 75), 30)
        self.assertEqual(metrics.percentile(xs, 100), 40)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(metrics.self_time_us([span(1, 0, 0, 100)]), {1: 100})

    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)]
        self.assertEqual(metrics.self_time_us(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50)]
        self.assertEqual(metrics.self_time_us(spans)[1], 60)

    def test_only_direct_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 90), span(3, 2, 20, 80)]
        self.assertEqual(metrics.self_time_us(spans), {1: 20, 2: 20, 3: 60})

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(metrics.self_time_us(spans)[1], 90)


class AttributionTest(unittest.TestCase):
    spans = [span(1, 0, 0, 10_000), span(2, 1, 2_000, 5_000), span(3, 2, 3_000, 4_000),
             span(4, 0, 20_000, 30_000)]

    def owner(self, start_ms):
        return metrics.attribute([{"job": 7, "start_ms": start_ms}], self.spans)[7]

    def test_innermost_open_span(self):
        self.assertEqual(self.owner(3.5), 3)
        self.assertEqual(self.owner(2.5), 2)
        self.assertEqual(self.owner(4.5), 2)
        self.assertEqual(self.owner(6), 1)
        self.assertEqual(self.owner(25), 4)

    def test_no_open_span(self):
        self.assertIsNone(self.owner(15))
        self.assertIsNone(self.owner(31))

    def test_spark_cost_counts_only_attributed_jobs(self):
        jobs = [{"job": 1, "start_ms": 2.5}, {"job": 2, "start_ms": 6}]
        task = {"stage": 0, "run_ms": 1, "cpu_ns": 1e6, "gc_ms": 0, "spill_bytes": 0,
                "shuffle_write_bytes": 1 << 20, "shuffle_read_bytes": 0}
        tasks = [dict(task, job=1, launch_ms=2.5, finish_ms=3.5),
                 dict(task, job=2, launch_ms=6, finish_ms=7),
                 dict(task, job=2, launch_ms=6.5, finish_ms=8)]
        owner = metrics.attribute(jobs, self.spans)
        c1 = metrics.spark_cost(self.spans[0], jobs, tasks, owner, cores=2)
        self.assertEqual((c1["jobs"], c1["tasks"], c1["shuffle_write_mb"]), (1, 2, 2.0))
        # tasks cover 6..8 ms of the span's 10 ms
        self.assertAlmostEqual(c1["cluster_idle_ms"], 8.0)
        self.assertAlmostEqual(c1["slot_busy_ratio"], 2 / 20)
        c2 = metrics.spark_cost(self.spans[1], jobs, tasks, owner, cores=2)
        self.assertEqual((c2["jobs"], c2["tasks"]), (1, 1))


class DigestTest(unittest.TestCase):
    def test_order_independent(self):
        self.assertEqual(metrics.digest(["b", "a", "c"]), metrics.digest(["c", "b", "a"]))

    def test_known_value(self):
        h = int.from_bytes(hashlib.sha256(b"a").digest()[:8], "big")
        self.assertEqual(metrics.digest(["a"]), f"1:{h:016x}")
        self.assertEqual(metrics.digest(["a", "a"]), f"2:{(2 * h) % (1 << 64):016x}")
        self.assertEqual(metrics.digest([]), "0:0000000000000000")

    def test_differs_on_content_and_count(self):
        self.assertNotEqual(metrics.digest(["0\tx"]), metrics.digest(["1\tx"]))
        self.assertNotEqual(metrics.digest(["x"]), metrics.digest(["x", "y"]))

    def test_visited_epochs_follow_deferral(self):
        # u2 is deferred from epoch 0 to epoch 1
        epochs = [["u1", "u2"], ["u2", "u3"], ["u4"]]
        trace = ["u1", "u2", "u3", "u4"]
        self.assertEqual(oracle.visited_epochs(trace, epochs),
                         [(0, "u1"), (1, "u2"), (1, "u3"), (2, "u4")])

    def test_visited_epochs_reject_inconsistent_trace(self):
        with self.assertRaises(ValueError):
            oracle.visited_epochs(["u2", "u1"], [["u1", "u2"]])


if __name__ == "__main__":
    unittest.main()
