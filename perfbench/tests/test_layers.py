"""Checks of the benchmark's own arithmetic: the tail-percentile rule, span
self-time and the per-layer scheduler accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import layers  # noqa: E402


def span(id_, parent, name, start, end):
    return {"id": id_, "parent": parent, "name": name, "layer": name,
            "startMs": start, "endMs": end}


class TailRule(unittest.TestCase):
    def test_leaves_ten_operations_beyond(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled order is irrelevant
        value, pct, n = layers.tail(list(reversed(xs)))
        self.assertEqual(n, 100)
        self.assertEqual(value, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_smallest_sample_with_a_tail_at_or_above_the_median(self):
        xs = [float(i) for i in range(21)]
        value, pct, n = layers.tail(xs)
        self.assertEqual((value, n), (10.0, 21))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertGreaterEqual(pct, 50.0)

    def test_small_samples_report_the_maximum(self):
        self.assertEqual(layers.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(layers.tail([float(i) for i in range(20)])[0:2], (19.0, 100.0))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_and_clipped(self):
        spans = [
            span(1, 0, "op", 0.0, 100.0),
            span(2, 1, "build", 10.0, 30.0),
            span(3, 1, "execute", 20.0, 60.0),    # overlaps build by 10
            span(4, 1, "late", 90.0, 120.0),      # runs past its parent
            span(5, 3, "plan", 25.0, 35.0),
        ]
        got = layers.self_times(spans)
        self.assertAlmostEqual(got[1], 100.0 - (50.0 + 10.0))
        self.assertAlmostEqual(got[3], 40.0 - 10.0)
        self.assertAlmostEqual(got[2], 20.0)
        self.assertAlmostEqual(got[5], 10.0)

    def test_union(self):
        self.assertAlmostEqual(layers.union_ms([(0, 5), (3, 8), (10, 12)]), 10.0)
        self.assertAlmostEqual(layers.union_ms([(0, 5), (3, 8)], 4, 6), 2.0)
        self.assertAlmostEqual(layers.union_ms([]), 0.0)


class PerLayer(unittest.TestCase):
    def records(self):
        op = {"name": "q", "family": "relational", "group": "g1", "rows": 0,
              "wall_s": 0.1, "check_s": 0.0, "ok": True, "reason": ""}
        result = {"workload": "query_mix", "rows": 10, "jvm_s": 0.2,
                  "setup_reps_s": [3.0, 1.0, 2.0], "peak_rss_mb": 100.0,
                  "peak_heap_mb": 50.0, "probe": [],
                  "passes": [
                      {"kind": "measure", "span": 10, "wall_s": 0.3, "cpu_s": 0.1,
                       "compiles": 5, "compile_ms": 150.0, "ops": [dict(op, wall_s=0.3)],
                       "sort_plans": []},
                      {"kind": "warm", "span": 20, "wall_s": 0.12, "cpu_s": 0.1,
                       "compiles": 0, "compile_ms": 0.0, "ops": [op], "sort_plans": []},
                      {"kind": "traced", "span": 1, "wall_s": 0.1, "cpu_s": 0.1,
                       "compiles": 0, "compile_ms": 0.0, "ops": [op], "sort_plans": []}]}
        spans = [span(1, 0, "pass:traced", 0.0, 100.0), span(2, 1, "q", 0.0, 100.0),
                 span(3, 2, "run", 0.0, 100.0), span(4, 3, "build", 0.0, 20.0),
                 span(5, 3, "execute", 20.0, 100.0),
                 span(10, 0, "pass:measure", -400.0, -100.0),
                 span(11, 10, "q", -400.0, -100.0), span(12, 11, "run", -400.0, -100.0),
                 span(13, 12, "build", -400.0, -300.0),
                 span(20, 0, "pass:warm", -90.0, -10.0)]
        trace = {"dropped_events": 2, "spans": spans,
                 "jobs": [{"id": 1, "startMs": 5, "endMs": 15, "group": "g1", "phase": "run",
                           "stages": [1]},
                          {"id": 2, "startMs": 30, "endMs": 70, "group": "g1",
                           "phase": "run", "stages": [2]},
                          {"id": 3, "startMs": 80, "endMs": 90, "group": "g1",
                           "phase": "check", "stages": [3]}],
                 "stages": [{"id": 1}, {"id": 2}, {"id": 3}],
                 "task_cols": ["stage", "dur_ms", "run_ms", "cpu_ns", "gc_ms", "peak_mem",
                               "sh_write", "sh_read", "sh_read_recs", "fetch_wait_ms",
                               "spill_mem", "spill_disk", "in_bytes", "out_bytes",
                               "out_recs"],
                 "tasks": [[2, 9, 8, 5_000_000, 1, 1 << 20, 0, 10, 3000, 0, 0, 0, 0, 0, 0],
                           [2, 9, 8, 3_000_000, 1, 2 << 20, 0, 10, 1000, 0, 0, 0, 0, 0, 0],
                           [3, 9, 8, 3_000_000, 1, 9 << 20, 0, 0, 0, 0, 0, 0, 0, 0, 0]],
                 "plans": [{"func": "collect", "phases": [["analysis", 21, 24],
                                                          ["planning", 500, 600]]}],
                 "stream": []}
        return result, trace

    def test_scheduler_and_executor_accounting(self):
        m = layers.per_layer(*self.records())
        self.assertEqual(m["sched.jobs"], 2)                 # the check job is not counted
        self.assertAlmostEqual(m["sched.driver_idle_ms"], 100.0 - 50.0)
        self.assertEqual(m["build.jobs"], 1)
        self.assertAlmostEqual(m["build.ms"], 20.0)
        self.assertAlmostEqual(m["exec.cpu_ms"], 8.0)
        self.assertAlmostEqual(m["exec.wait_ms"], 16.0 - 8.0)
        self.assertAlmostEqual(m["exec.peak_mem_mb"], 2.0)
        self.assertEqual(m["mem.peak_heap_mb"], 50.0)
        self.assertAlmostEqual(m["shuffle.partition_rows_max_over_mean"], 1.5)
        self.assertAlmostEqual(m["plan.analysis_ms"], 3.0)   # the phase outside runs is not
        self.assertEqual(m["plan.planning_ms"], 0.0)
        self.assertAlmostEqual(m["span.execute_self_ms"], 80.0)
        self.assertEqual(m["trace.dropped_events"], 2)
        self.assertAlmostEqual(m["family.relational.wall_s"], 0.1)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.1 / 0.12 - 1)
        self.assertAlmostEqual(m["qmix.cold_warm_gap_s"], 0.3 - 0.12)
        self.assertAlmostEqual(m["qmix.gap_codegen_build_s"], (150.0 + 100.0) / 1e3)
        self.assertEqual(set(m), set(layers.PER_LAYER))

    def test_end_to_end_uses_untraced_passes(self):
        result, _ = self.records()
        m, extra = layers.end_to_end(result, stage_s=1.0)
        self.assertAlmostEqual(m["setup_s"], 1.0 + 0.2 + 2.0)
        self.assertAlmostEqual(m["wall_s"], 0.3)
        self.assertEqual(extra["fail_frac"], 0.0)


if __name__ == "__main__":
    unittest.main()
