"""Self-test of the benchmark's own arithmetic (no Spark needed).

    python3 perfbench/selftest.py
"""
import io
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import trace_diff  # noqa: E402
import workloads  # noqa: E402


def q(name, fp="3:00000000000000ab:1f", ok=True, readback=None, error=""):
    return {"name": name, "module": "Aggregations", "ok": ok, "fp": fp,
            "error": error, "readback": readback,
            "round": 0, "construct_s": 0.0, "action_s": 0.0, "cpu_s": 0.0}


def span(i, parent, kind, lo, hi, name=""):
    return {"id": i, "parent": parent, "kind": kind, "name": name or kind,
            "start_ms": lo, "end_ms": hi}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        ten = list(range(10, 0, -1))
        self.assertEqual(metrics.percentile(ten, 50), 5)
        self.assertEqual(metrics.percentile(ten, 90), 9)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(metrics.percentile(list(range(1, 102)), 90), 91)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([7.5], 90), 7.5)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_median(self):
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(metrics.median([5, 1, 3]), 3)


class FailedFraction(unittest.TestCase):
    GOLD = {"a": "3:00000000000000ab:1f", "b": "3:00000000000000ab:1f",
            "c": "3:00000000000000ab:1f", "d": "3:00000000000000ab:1f"}

    def test_clean_run(self):
        self.assertEqual(metrics.check_outputs([q("a"), q("b")], self.GOLD), [])

    def test_throwing_and_wrong_fingerprint_both_count(self):
        qs = [q("a"), q("b", ok=False, error="boom"),
              q("c", fp="3:00000000000000ac:1f"), q("d")]
        fails = metrics.check_outputs(qs, self.GOLD)
        self.assertEqual([n for n, _ in fails], ["b", "c"])
        self.assertIn("boom", fails[0][1])
        self.assertEqual(len(fails) / len(qs), 0.5)

    def test_row_count_only_for_unstable_queries(self):
        qs = [q("c", fp="3:00000000000000ac:1e"), q("d", fp="4:00000000000000ab:1f")]
        fails = metrics.check_outputs(qs, self.GOLD, unstable={"c", "d"})
        self.assertEqual([n for n, _ in fails], ["d"])

    def test_missing_golden_and_bad_read_back(self):
        qs = [q("zz"), q("a", readback="2:00000000000000ab:1f"),
              q("b", readback="3:00000000000000ab:1f")]
        self.assertEqual([n for n, _ in metrics.check_outputs(qs, self.GOLD)], ["zz", "a"])


class SpanArithmetic(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [span(0, -1, "run", 0, 100),
                 span(1, 0, "setup", 0, 40),
                 span(2, 0, "batch", 40, 100),
                 span(3, 2, "query", 45, 95),
                 span(4, 3, "construct", 45, 60),
                 span(5, 3, "action", 55, 90),   # overlaps construct by 5
                 span(6, 3, "action", 200, 300)]  # outside parent: clipped away
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 0.0)
        self.assertEqual(st[1], 40.0)
        self.assertEqual(st[2], 10.0)
        self.assertEqual(st[3], 50.0 - 45.0)
        self.assertEqual(st[4], 15.0)
        self.assertEqual(st[5], 35.0)

    def test_idle_time_inside_an_action(self):
        a = span(1, 0, "action", 0, 100)
        jobs = [{"start_ms": 10, "end_ms": 30}, {"start_ms": 20, "end_ms": 50},
                {"start_ms": 90, "end_ms": 120}]
        self.assertEqual(metrics.idle_ms(a, jobs), 100 - 40 - 10)


class PerLayer(unittest.TestCase):
    def record(self):
        spans = [span(0, -1, "run", 0, 5000), span(1, 0, "setup", 0, 1000),
                 span(2, 0, "batch", 1000, 5000),
                 span(3, 1, "load", 0, 100, "Tables.lineitem"),
                 span(4, 1, "shared", 200, 900, "Shared.Windows"),
                 span(5, 2, "query", 1000, 3000, "win_x"),
                 span(6, 5, "construct", 1000, 1500, "win_x"),
                 span(7, 5, "action", 1500, 3000, "win_x"),
                 span(8, 7, "plan", 1500, 1600, "win_x")]
        jobs = [{"id": 0, "span": 3, "start_ms": 10, "end_ms": 50, "stages": [0]},
                {"id": 1, "span": 6, "start_ms": 1100, "end_ms": 1200, "stages": [1]},
                {"id": 2, "span": 7, "start_ms": 1600, "end_ms": 2600, "stages": [2, 3]}]
        stages = [
            {"id": 0, "job": 0, "tasks": 1, "run_ms": 30, "cpu_ns": 0, "gc_ms": 0,
             "in_rows": 10, "sw_bytes": 0, "sr_bytes": 0, "spill_bytes": 0},
            {"id": 1, "job": 1, "tasks": 1, "run_ms": 80, "cpu_ns": 0, "gc_ms": 0,
             "in_rows": 0, "sw_bytes": 0, "sr_bytes": 0, "spill_bytes": 0},
            {"id": 2, "job": 2, "tasks": 4, "run_ms": 2000, "cpu_ns": 10**9, "gc_ms": 100,
             "in_rows": 600, "sw_bytes": 1048576, "sr_bytes": 0, "spill_bytes": 0},
            {"id": 3, "job": 2, "tasks": 4, "run_ms": 1000, "cpu_ns": 5 * 10**8, "gc_ms": 0,
             "in_rows": 0, "sw_bytes": 0, "sr_bytes": 1048576, "spill_bytes": 0}]
        return {"spans": spans, "jobs": jobs, "stages": stages, "cores": 4, "rounds": 1,
                "sink_files": 2, "sink_mb": 0.5, "cached_mb": 1.0, "warehouse_mb": 0.0,
                "shared": [{"module": "Windows", "s": 0.7}],
                "queries": [dict(q("win_x"), module="Windows")]}

    def test_layers(self):
        m = metrics.per_layer(self.record())
        self.assertEqual(m["Tables.load_jobs"], 1)
        self.assertAlmostEqual(m["Tables.load_s"], 0.1)
        self.assertEqual(m["SparkEntry.construct_jobs"], 1)
        self.assertEqual(m["SparkEntry.eager_queries"], 1)
        self.assertEqual(m["Scheduler.jobs"], 2)
        self.assertEqual(m["Scheduler.stages"], 3)
        self.assertEqual(m["Scheduler.tasks"], 9)
        self.assertAlmostEqual(m["Scheduler.one_task_stage_frac"], 1 / 3)
        # planning is neither idle time nor execution
        self.assertAlmostEqual(m["Catalyst.plan_s"], 0.1)
        self.assertAlmostEqual(m["Scheduler.idle_s"], 0.4)
        self.assertAlmostEqual(m["Executor.action_s"], 1.4)
        self.assertAlmostEqual(m["Executor.task_s"], 3.0)
        self.assertAlmostEqual(m["Executor.core_util"], 3.0 / (1.4 * 4))
        self.assertEqual(m["Executor.input_rows"], 600)
        self.assertAlmostEqual(m["Executor.shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(m["Windows.construct_s"], 0.5)
        self.assertAlmostEqual(m["Windows.exec_s"], 1.4)
        self.assertEqual(m["Windows.jobs"], 2)
        self.assertEqual(m["Shared.TextOps_s"], 0.0)
        self.assertEqual(m["Shared.Windows_s"], 0.7)

    def test_batch_figures_are_per_round(self):
        one = metrics.per_layer(self.record())
        two = metrics.per_layer(dict(self.record(), rounds=2))
        for k in ("Scheduler.jobs", "Executor.action_s", "Catalyst.plan_s",
                  "SparkEntry.construct_s", "Sink.files", "Windows.exec_s"):
            self.assertAlmostEqual(two[k], one[k] / 2, msg=k)
        for k in ("Tables.load_s", "Tables.load_jobs", "Shared.Windows_s",
                  "Shared.cached_mb", "Executor.core_util",
                  "Scheduler.one_task_stage_frac"):
            self.assertAlmostEqual(two[k], one[k], msg=k)

    def test_trace_diff_reports_self_time_delta(self):
        a = dict(self.record(), workload="w")
        b = dict(self.record(), workload="w")
        b["spans"] = [dict(s) for s in b["spans"]]
        b["spans"][7]["end_ms"] = 2500  # action 0.5 s faster
        for t in (a, b):
            t["per_layer"] = metrics.per_layer(t)
        out = io.StringIO()
        self.assertEqual(trace_diff.diff({"w": [a]}, {"w": [b]}, out), 0)
        action = [l for l in out.getvalue().splitlines() if l.split()[:1] == ["action"]]
        self.assertEqual(len(action), 1)
        self.assertEqual(action[0].split()[3], "-0.500")


class EndToEnd(unittest.TestCase):
    def test_metrics_of_one_run(self):
        # a cold round, then three warm ones; each query counts at its
        # median warm round, so the cold round and the one stalled
        # execution both drop out
        runs = {"x": [(4.0, 9.0), (1.0, 2.0), (0.9, 2.5), (1.2, 1.0)],
                "y": [(5.0, 8.0), (3.5, 4.0), (3.0, 5.0), (3.6, 6.0)],
                "z": [(2.5, 6.0), (9.0, 1.0), (2.0, 3.0), (2.5, 3.5)]}
        rec = {"ready_epoch_ms": 1030500.0, "rounds": 4,
               "live_ready_mb": 100.0,
               "queries": [dict(q(n), round=r, construct_s=0.5, action_s=a - 0.5, cpu_s=c)
                           for n, v in runs.items() for r, (a, c) in enumerate(v)]}
        e = metrics.end_to_end(rec, 1000.0)
        self.assertAlmostEqual(e["setup_s"][0], 30.5)
        self.assertAlmostEqual(e["batch_s"][0], 1.0 + 3.5 + 2.5)
        self.assertEqual(sorted(e), ["batch_cpu_s", "batch_s", "live_heap_mb", "setup_s"])
        self.assertTrue(set(metrics.GATED) <= set(e))
        self.assertAlmostEqual(e["batch_cpu_s"][0], 2.0 + 5.0 + 3.0)
        lat = list(metrics.query_latencies(rec).values())
        self.assertEqual(metrics.percentile(lat, 50), 2.5)
        self.assertEqual(e["live_heap_mb"], (100.0, "MB"))
        self.assertAlmostEqual(metrics.first_round_s(rec), 4.0 + 5.0 + 2.5)

    def test_a_single_round_counts_as_it_is(self):
        rec = {"rounds": 1, "queries": [dict(q("x"), action_s=4.0, cpu_s=9.0)]}
        self.assertEqual(metrics.query_latencies(rec), {"x": 4.0})
        self.assertEqual(metrics.query_cpu(rec), {"x": 9.0})


class WorkloadDefinitions(unittest.TestCase):
    def test_timed_lists_belong_to_their_workload(self):
        seen = set()
        for name, wl in workloads.WORKLOADS.items():
            self.assertGreaterEqual(len(wl["queries"]), 6, name)
            for qn in wl["queries"]:
                self.assertEqual(workloads.workload_of(qn), name, qn)
                self.assertNotIn(qn, seen)
                self.assertNotIn(qn, workloads.SCRATCH_WRITERS)
                seen.add(qn)

    def test_units(self):
        self.assertEqual(metrics.unit_of("Sink.mb"), "MB")
        self.assertEqual(metrics.unit_of("Executor.spill_mb"), "MB")
        self.assertEqual(metrics.unit_of("Scheduler.one_task_stage_frac"), "fraction")
        self.assertEqual(metrics.unit_of("Sink.files"), "count")

    def test_prefixes_are_disjoint(self):
        pre = [p for wl in workloads.WORKLOADS.values() for p in wl["prefixes"]]
        self.assertEqual(len(pre), len(set(pre)))
        for p in pre:
            self.assertFalse(any(o != p and o.startswith(p) for o in pre), p)


if __name__ == "__main__":
    unittest.main()
