"""Self-tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertEqual(metrics.tail_percentile(11), 9)

    def test_ten_samples_beyond_the_percentile(self):
        for n in (11, 15, 30, 50, 99, 100, 101, 1000):
            p = metrics.tail_percentile(n)
            values = list(range(n))
            value = metrics.percentile_value(values, p)
            self.assertGreaterEqual(sum(v > value for v in values), 10, n)
            # one percent higher would leave fewer than ten beyond it
            self.assertLess(n * (1 - (p + 1) / 100), 10, n)

    def test_known_points(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(50), 80)
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90))


class Spans(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(20, 25), (0, 10), (10, 12)]), 17)
        self.assertEqual(metrics.union_length([(0, 100), (10, 20), (30, 40)]), 100)

    def test_self_time_clips_children_to_the_span(self):
        # span 0..100; children cover 10..30, 20..40 and 90..120 (clipped to 100)
        self.assertEqual(metrics.self_time(0, 100, [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(metrics.self_time(0, 100, []), 100)
        self.assertEqual(metrics.self_time(0, 100, [(200, 300)]), 100)

    def hand_built_trace(self):
        # two operations; op-0 traced with two overlapping jobs, op-1 untraced
        return [
            {"t": "setup", "rep": 0, "start": 0, "end": 3_000_000, "session_end": 1_000_000,
             "spans": [{"name": "create_table", "layer": "engine_context",
                        "start": 1_000_000, "end": 1_500_000}]},
            {"t": "op", "id": "op-0", "seq": 0, "cycle": 0, "name": "q", "traced": True,
             "error": None, "start": 10_000_000, "end": 11_000_000,
             "spans": [{"name": "ctx.sql", "layer": "engine_context",
                        "start": 10_000_000, "end": 10_200_000},
                       {"name": "noop_sink", "layer": "action",
                        "start": 10_200_000, "end": 11_000_000}]},
            {"t": "op", "id": "op-1", "seq": 1, "cycle": 0, "name": "q", "traced": False,
             "error": None, "start": 12_000_000, "end": 12_800_000, "spans": []},
            {"t": "job", "id": 1, "op": "op-0", "start": 10_300_000, "end": 10_600_000,
             "stages": [1], "ok": True},
            {"t": "job", "id": 2, "op": "op-0", "start": 10_500_000, "end": 10_900_000,
             "stages": [2], "ok": True},
            {"t": "stage", "id": 1, "attempt": 0, "op": "op-0", "name": "s1",
             "start": 10_300_000, "end": 10_600_000, "tasks": 1, "run_ms": 300,
             "cpu_ns": 200_000_000, "gc_ms": 10, "shuffle_read_bytes": 0,
             "shuffle_write_bytes": 1 << 20, "spill_bytes": 0, "ok": True, "task_failures": 0},
            {"t": "stage", "id": 2, "attempt": 0, "op": "op-0", "name": "s2",
             "start": 10_500_000, "end": 10_900_000, "tasks": 4, "run_ms": 1200,
             "cpu_ns": 1_000_000_000, "gc_ms": 0, "shuffle_read_bytes": 1 << 20,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "ok": True, "task_failures": 1},
            {"t": "qe", "func": "command", "ok": True,
             "phases": {"analysis": [10_210_000, 10_230_000],
                        "optimization": [10_230_000, 10_260_000],
                        "planning": [10_260_000, 10_300_000]}},
            {"t": "storage", "op": "op-0", "peak_bytes": 3 << 20},
            {"t": "finish", "facts": {}},
        ]

    def test_per_layer_from_a_hand_built_trace(self):
        m = metrics.per_layer(self.hand_built_trace())
        self.assertAlmostEqual(m["engine_context.create_table_s"], 0.5)
        self.assertAlmostEqual(m["engine_context.sql_s"], 0.2)
        self.assertEqual(m["exec.jobs"], 1 * 2)
        self.assertEqual(m["exec.stages"], 2)
        self.assertEqual(m["exec.tasks"], 5)
        # op wall 1.0 s minus the job union 0.3..0.9 s
        self.assertAlmostEqual(m["exec.driver_gap_s"], 0.4)
        self.assertAlmostEqual(m["exec.stage_wall_s"], 0.7)
        self.assertAlmostEqual(m["exec.single_task_stage_s"], 0.3)
        self.assertAlmostEqual(m["exec.task_run_s"], 1.5)
        self.assertAlmostEqual(m["exec.parallelism"], 1.5 / 0.7)
        self.assertAlmostEqual(m["exec.shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(m["exec.peak_storage_mb"], 3.0)
        self.assertEqual(m["exec.task_failures"], 1)
        self.assertAlmostEqual(m["catalyst.analysis_s"], 0.02)
        self.assertAlmostEqual(m["catalyst.planning_s"], 0.04)
        self.assertEqual(m["catalyst.executions"], 1)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.0 / 0.8 - 1.0)
        self.assertEqual(set(m), set(metrics.LAYER_UNITS))

    def test_overhead_needs_a_name_run_both_ways(self):
        trace = [e for e in self.hand_built_trace() if e.get("id") != "op-1"]
        self.assertIsNone(metrics.per_layer(trace)["trace.overhead_ratio"])

    def test_end_to_end_balances_a_partial_last_cycle(self):
        # query a ran three times at 1 s, query b once at 3 s
        def op(name, start, end):
            return {"t": "op", "name": name, "start": start * 1_000_000, "end": end * 1_000_000}
        events = [{"t": "setup", "start": 0, "end": 2_000_000},
                  op("a", 10, 11), op("b", 11, 14), op("a", 14, 15), op("a", 15, 16)]
        m = metrics.end_to_end(events, "sql_tpch", {})
        self.assertAlmostEqual(m["setup_s"], 2.0)
        self.assertAlmostEqual(m["latency_p50_s"], 2.0)
        # two queries per cycle over a cycle of 1 s + 3 s
        self.assertAlmostEqual(m["items_per_s"], 0.5)

    def test_chrome_trace_keeps_only_traced_operations(self):
        trace = metrics.chrome_trace(self.hand_built_trace(), "sql_tpch")["traceEvents"]
        self.assertTrue(all(e["args"]["trace_id"] == "op-0" for e in trace))
        self.assertEqual(sum(e["cat"] == "operation" for e in trace), 1)
        self.assertEqual(sum(e["cat"] == "catalyst" for e in trace), 3)


if __name__ == "__main__":
    unittest.main()
