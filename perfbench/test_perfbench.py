"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The attribution test builds the engine and driver (cached in .bench_build)
and starts a local Spark session, so it takes a minute on a cold checkout.
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90_with_ten_beyond(self):
        values = list(range(100, 0, -1))
        t, p, n = metrics.tail(values)
        self.assertEqual((t, p, n), (90, 90, 100))
        self.assertEqual(sum(v > t for v in values), 10)

    def test_fewer_samples_lower_the_percentile(self):
        t, p, n = metrics.tail(list(range(50)))
        self.assertEqual((t, p, n), (39, 80, 50))
        t, p, n = metrics.tail(list(range(25)))
        self.assertEqual((p, n), (60, 25))
        self.assertEqual(sum(v > t for v in range(25)), 10)

    def test_no_percentile_has_ten_beyond_below_eleven_samples(self):
        self.assertEqual(metrics.tail(list(range(10))), (None, None, 10))
        self.assertIsNotNone(metrics.tail(list(range(11)))[0])


def span(i, parent, start, end, name="x", stmt=1):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "name": name,
            "stmt": stmt}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_span_minus_children(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 1, 5, 9), span(4, 3, 6, 7)]
        self.assertEqual(metrics.self_times(spans), {1: 3, 2: 3, 3: 3, 4: 1})

    def test_self_times_add_up_to_the_root_wall(self):
        spans = [span(1, 0, 0.0, 12.5), span(2, 1, 0.5, 2.0), span(3, 1, 2.0, 11.0),
                 span(4, 3, 2.5, 3.0), span(5, 3, 3.0, 10.0)]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 12.5)

    def test_child_outside_its_parent_is_clipped(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 8, 12)]
        self.assertEqual(metrics.self_times(spans)[1], 8)


def stage(span_id, tasks, durations, **kw):
    s = {"span": span_id, "tasks": tasks, "run_ms": 0, "cpu_ms": 0, "gc_ms": 0,
         "delay_ms": 0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "in_bytes": 0,
         "in_records": 0, "result_bytes": 0, "durations": durations}
    s.update(kw)
    return s


class AttributionTest(unittest.TestCase):
    def test_jobs_and_stages_roll_up_to_their_span_layer(self):
        spans = [span(1, 0, 0, 100, "stmt"), span(2, 1, 0, 1, "aql.parse"),
                 span(3, 1, 1, 40, "engine.run"), span(4, 1, 40, 50, "catalyst.plan"),
                 span(5, 1, 50, 100, "collect")]
        stages = {3: [stage(3, 2, [10, 10], in_records=500, in_bytes=4000)],
                  5: [stage(5, 4, [5, 5, 5, 20], in_records=100, shuffle_read=64,
                            result_bytes=300, run_ms=35)]}
        jobs = {3: [0], 5: [1, 2]}
        plans = {1: {"exchanges": 1, "scans": 2, "files_read": 3, "rows": 50}}
        m = metrics.step_layers([1], {1: spans}, stages, jobs, plans, {},
                                metrics.self_times(spans))
        self.assertEqual(m["engine.lower_ms"], 39)
        self.assertEqual(m["engine.lower_jobs"], 1)
        self.assertEqual(m["sched.jobs"], 3)
        self.assertEqual((m["sched.stages"], m["sched.tasks"]), (2, 6))
        self.assertEqual(m["collect.result_bytes"], 300)
        self.assertEqual(m["scan.rows_read"], 600)
        self.assertEqual(m["scan.rows_read_per_row_returned"], 12)
        self.assertEqual(m["sched.skew"], 4)
        self.assertEqual(m["catalog.commit_ms"], 0)

    def test_commit_span_feeds_the_catalog_layer(self):
        spans = [span(1, 0, 0, 30, "stmt"), span(2, 1, 0, 30, "engine.run")]
        writes = {1: {"files": 4, "bytes": 9000, "index_bytes": 1000, "files_live": 40}}
        m = metrics.step_layers([1], {1: spans}, {}, {2: [7, 8]}, {}, writes,
                                metrics.self_times(spans))
        self.assertEqual((m["catalog.commit_ms"], m["catalog.commit_jobs"]), (30, 2))
        self.assertEqual((m["catalog.files_written"], m["catalog.files_live"]), (4, 40))

    def test_live_spark_jobs_land_on_the_submitting_span(self):
        classes = build.build()
        cmd = run.java_cmd(classes, ["--selftest", "1", "--cores", "2"])
        r = subprocess.run(cmd, cwd=build.OUT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=300)
        self.assertIn(" OK", r.stdout)
        self.assertEqual(r.returncode, 0)


class PlanTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.data = datagen.ensure(os.path.join(build.OUT, "data"))

    def test_same_seed_gives_byte_identical_plans(self):
        for w in workloads.WORKLOADS:
            a = workloads.plan_bytes(workloads.make_plan(w, 7, self.data, 3))
            b = workloads.plan_bytes(workloads.make_plan(w, 7, self.data, 3))
            c = workloads.plan_bytes(workloads.make_plan(w, 8, self.data, 3))
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)

    def test_serve_mix_cursor_working_set_stays_under_the_registry(self):
        reader = workloads.make_plan("serve_mix", 3, self.data, 3)["clients"][0]["steps"]
        live, peak = set(), 0
        for st in reader:
            if "open" in st:
                live.add(st["open"])
            elif st["cls"] == "close":
                live.discard(st["aql"].split("{")[1].rstrip("}"))
            peak = max(peak, len(live))
        # 2*RANGE_LAG range cursors awaiting pages and the cycle's new one;
        # point cursors are never named, paged or closed
        self.assertEqual(peak, 2 * workloads.RANGE_LAG + 1)


class CompareTest(unittest.TestCase):
    def test_rows_compare_as_multisets_with_float_tolerance(self):
        self.assertTrue(run.same_result([["b", 2.0], ["a", 1.0]], [["a", 1.0000000001], ["b", 2]]))
        self.assertFalse(run.same_result([["a", 1.0]], [["a", 1.01]]))
        self.assertFalse(run.same_result([["a", None]], [["a", 0]]))


if __name__ == "__main__":
    unittest.main()
