"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import workloads  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_rung_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        value, pct, n = metrics.tail_percentile(xs)
        # p99 leaves 1 above, p95 leaves 5, p90 leaves exactly 10
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_more_samples_reach_higher_rungs(self):
        self.assertEqual(metrics.tail_percentile(range(1000))[1], 99.0)
        self.assertEqual(metrics.tail_percentile(range(10000))[1], 99.9)

    def test_input_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7] * 20
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))

    def test_median_is_the_last_rung(self):
        value, pct, n = metrics.tail_percentile(range(20))
        self.assertEqual((pct, n), (50.0, 20))
        self.assertEqual(value, 9)  # rank 10 of 0..19, ten samples above

    def test_too_few_samples_fall_back_to_median(self):
        value, pct, n = metrics.tail_percentile([4, 1, 3])
        self.assertEqual((value, pct, n), (3, None, 3))
        self.assertEqual(metrics.tail_percentile([]), (0.0, None, 0))


def span(i, parent, a, b, name="x"):
    return {"trace": "t", "span": i, "parent": parent, "name": name, "start_ms": a, "end_ms": b}


class SelfTime(unittest.TestCase):
    def test_nested_children(self):
        spans = [span(0, None, 0, 100), span(1, 0, 10, 60), span(2, 1, 20, 30)]
        st = metrics.self_times(spans)
        self.assertEqual(st, {0: 50, 1: 40, 2: 10})

    def test_overlapping_children_are_counted_once(self):
        spans = [span(0, None, 0, 100), span(1, 0, 10, 50), span(2, 0, 30, 70), span(3, 0, 60, 65)]
        self.assertEqual(metrics.self_times(spans)[0], 40)  # union covers 10..70

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(0, None, 0, 100), span(1, 0, -20, 10), span(2, 0, 90, 150)]
        self.assertEqual(metrics.self_times(spans)[0], 80)

    def test_layer_sums_by_name(self):
        spans = [span(0, None, 0, 1000, "key"), span(1, 0, 0, 400, "ops.build"),
                 span(2, 0, 400, 1000, "exec"), span(3, 2, 500, 800, "job")]
        self.assertEqual(metrics.layer_self_times(spans),
                         {"key": 0.0, "ops.build": 0.4, "exec": 0.3, "job": 0.3})


class Attribution(unittest.TestCase):
    KEYS = [{"key": "b", "start_ms": 200, "end_ms": 300}, {"key": "a", "start_ms": 100, "end_ms": 150}]

    def test_event_goes_to_the_running_key(self):
        w = metrics.KeyWindows(self.KEYS)
        self.assertEqual([w.key_at(t) for t in (100, 120, 150, 200, 299, 300)],
                         ["a", "a", "a", "b", "b", "b"])

    def test_events_between_or_outside_windows_belong_to_none(self):
        w = metrics.KeyWindows(self.KEYS)
        self.assertEqual([w.key_at(t) for t in (50, 151, 199, 301)], [None] * 4)

    def test_pass_layers_attribute_listener_events(self):
        def stage(i, t, run_ms, peak):
            return {"id": i, "attempt": 0, "submit_ms": t, "complete_ms": t + 5, "tasks": 2,
                    "run_ms": run_ms, "cpu_ns": 0, "gc_ms": 0, "wait_ms": 1, "input_bytes": 0,
                    "output_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                    "peak_exec_mem_bytes": peak}
        key = {"wall_s": 0.05, "build_s": 0.01, "codegen_compiles": 1, "codegen_compile_s": 0.0,
               "shared_builds": 0}
        raw = {
            "cpus": 4,
            "passes": [{"keys": [dict(key, key="a", start_ms=100, end_ms=150),
                                 dict(key, key="b", start_ms=200, end_ms=250)],
                        "cached_bytes": 0, "scratch_written_bytes": 0, "durable_stages_built": 0}],
            # stage 3 ran while no key of this pass ran (e.g. another pass)
            "stages": [stage(1, 110, 40, 7), stage(2, 210, 60, 9), stage(3, 400, 1000, 99)],
            "jobs": [{"id": 1, "start_ms": 105, "end_ms": 140, "stages": [1]}],
            "plans": [{"func": "save", "ok": True, "phases": [
                {"name": "analysis", "start_ms": 101, "end_ms": 103}]},
                {"func": "save", "ok": True, "phases": [
                    {"name": "analysis", "start_ms": 500, "end_ms": 900}]}],
            "batches": [{"query": "q", "batch": 0, "start_ms": 220, "state_rows": 5,
                         "duration_ms": {"triggerExecution": 12, "walCommit": 3}}],
        }
        m, extra = metrics.pass_layers(raw, 0)
        self.assertEqual(m["exec.tasks"], 4)
        self.assertAlmostEqual(m["exec.task_run_s"], 0.1)
        self.assertAlmostEqual(m["exec.core_util"], 0.1 / (0.1 * 4))
        self.assertEqual(m["exec.peak_exec_mem_mb"], 9 / metrics.MB)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["plan.executions"], 1)
        self.assertAlmostEqual(m["plan.analysis_s"], 0.002)
        self.assertEqual((m["stream.batches"], m["stream.state_rows"]), (1, 5))
        self.assertAlmostEqual(m["stream.wal_commit_s"], 0.003)
        spans = metrics.build_spans(raw, 0)
        self.assertEqual(sorted({s["trace"] for s in spans}), ["0:a", "0:b"])
        batch = next(s for s in spans if s["name"] == "stream.batch")
        self.assertEqual(batch["trace"], "0:b")


class SeedOrder(unittest.TestCase):
    def test_seed_permutes_each_workload(self):
        for w, keys in workloads.WORKLOADS.items():
            orders = {tuple(workloads.order(w, s)) for s in range(20)}
            for o in orders:
                self.assertEqual(sorted(o), sorted(keys))
            self.assertGreater(len(orders), 1, w)

    def test_same_seed_same_order(self):
        self.assertEqual(workloads.order("llm_corpus", 7), workloads.order("llm_corpus", 7))


class KernelLayers(unittest.TestCase):
    def test_first_rep_is_cold_median_of_rest_is_warm(self):
        m = metrics.kernel_layers([{"fn": "vec_dot", "rows": 100, "secs": [2.0, 1.0, 0.5, 0.25]}])
        self.assertEqual(m["kernel.vec_dot.rows_per_s.cold"], 50.0)
        self.assertEqual(m["kernel.vec_dot.rows_per_s.warm"], 200.0)

    def test_unmeasured_kernel_reads_zero(self):
        m = metrics.kernel_layers([{"fn": "simhash64", "rows": 0, "secs": []}])
        self.assertEqual(m, {"kernel.simhash64.rows_per_s.cold": 0.0,
                             "kernel.simhash64.rows_per_s.warm": 0.0})


if __name__ == "__main__":
    unittest.main()
