"""Unit tests for the benchmark's pure functions.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import duckdb  # noqa: E402

import run  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402

SPEC = [{"name": "pass_s", "unit": "s"}, {"name": "rows_per_s", "unit": "rows/s"}]


class MedianAndTail(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5.
        self.assertEqual(stats.tail(list(range(100))), (90.0, 89, 100))
        # 1000 samples support p99 (10 above) but not p99.9 (1 above).
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        # 20 samples support only the median (10 above it).
        self.assertEqual(stats.tail(list(range(20))), (50.0, 9, 20))
        # 10 samples support nothing, and the count is still reported.
        self.assertEqual(stats.tail(list(range(10))), (None, None, 10))


class Bounds(unittest.TestCase):
    def test_spread_matches_statistics_quantiles(self):
        xs = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.05]
        # Exclusive-method quartiles of these ten values: 9.875 and 10.125.
        self.assertAlmostEqual(stats.spread(xs), 0.025)

    def test_worse_by_respects_direction(self):
        self.assertAlmostEqual(stats.worse_by(10.0, 11.0, "lower"), 0.1)
        self.assertAlmostEqual(stats.worse_by(10.0, 11.0, "higher"), -0.1)
        self.assertAlmostEqual(stats.worse_by(10.0, 9.0, "higher"), 0.1)

    def test_within_bound_edges(self):
        self.assertTrue(stats.within_bound(10.0, 11.5, "lower", 0.15))
        self.assertFalse(stats.within_bound(10.0, 11.6, "lower", 0.15))
        self.assertTrue(stats.within_bound(10.0, 20.0, "higher", 0.0))

    def test_zero_base_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.worse_by(0.0, 1.0, "lower")


class Render(unittest.TestCase):
    def test_renders_every_declared_metric_with_unit(self):
        line = stats.render(True, 12, 0, {"pass_s": 1.25, "rows_per_s": 8000}, SPEC)
        self.assertEqual(json.loads(line), {
            "correct": True, "attempted": 12, "failed": 0,
            "metrics": {"pass_s": {"value": 1.25, "unit": "s"},
                        "rows_per_s": {"value": 8000.0, "unit": "rows/s"}}})

    def test_missing_or_extra_metric_is_refused(self):
        with self.assertRaises(ValueError):
            stats.render(True, 1, 0, {"pass_s": 1.0}, SPEC)
        with self.assertRaises(ValueError):
            stats.render(True, 1, 0, {"pass_s": 1.0, "rows_per_s": 2.0, "x": 3.0}, SPEC)

    def test_non_finite_value_or_bad_counts_are_refused(self):
        with self.assertRaises(ValueError):
            stats.render(True, 1, 0, {"pass_s": float("nan"), "rows_per_s": 1.0}, SPEC)
        with self.assertRaises(ValueError):
            stats.render(True, 0, 0, {"pass_s": 1.0, "rows_per_s": 1.0}, SPEC)
        with self.assertRaises(ValueError):
            stats.render(True, 1, 2, {"pass_s": 1.0, "rows_per_s": 1.0}, SPEC)


def _pass(traced, steps, cpu_s=1.0):
    return {"traced": traced, "cpu_s": cpu_s, "steps": steps}


def _step(s, build_ms, action_ms, ok=True, outside_ms=0.0, task_cpu_ms=0.0):
    return {"ok": ok, "s": s, "build_ms": build_ms, "action_ms": action_ms, "rows": 1,
            "layers": {"sched.outside_ms": outside_ms, "exec.task_cpu_ms": task_cpu_ms}}


class TracedRun(unittest.TestCase):
    def test_step_medians_skip_failed_steps(self):
        passes = [_pass(False, {"a": _step(1.0, 900, 100), "b": _step(2.0, 0, 0, ok=False)}),
                  _pass(False, {"a": _step(3.0, 900, 100), "b": _step(4.0, 3000, 1000)})]
        self.assertEqual(run.step_medians(passes), {"a": 2.0, "b": 4.0})

    def test_reconcile_reports_job_time_outside_the_step(self):
        passes = [_pass(True, {"a": _step(1.0, 900, 100, outside_ms=10.0),
                               "b": _step(2.0, 1500, 500, outside_ms=100.0)})]
        self.assertAlmostEqual(run.reconcile(passes), 0.05)

    def test_reconcile_reports_task_cpu_beyond_process_cpu(self):
        passes = [_pass(True, {"a": _step(1.0, 900, 100, task_cpu_ms=600.0),
                               "b": _step(1.0, 900, 100, task_cpu_ms=500.0)}, cpu_s=1.0)]
        self.assertAlmostEqual(run.reconcile(passes), 0.1)
        passes[0]["cpu_s"] = 2.0
        self.assertLessEqual(run.reconcile(passes), 0.0)

    def test_reconcile_skips_failed_steps(self):
        passes = [_pass(True, {"a": _step(1.0, 900, 100),
                               "b": _step(0.0, 0, 0, ok=False, outside_ms=50.0)})]
        self.assertEqual(run.reconcile(passes), 0.0)

    def test_every_declared_metric_is_computed(self):
        with open(os.path.join(os.path.dirname(run.__file__), "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        step = dict(_step(1.0, 600, 400), triggers_ms=[])
        job = dict(step, **{"JobRunner.run_ms": 1.0, "JobRunner.write_ms": 2.0,
                            "JobRunner.output_bytes": 3.0})
        passes = [_pass(t, {"job_batch": job, "q_topk": step}) for t in (False, True)]
        res = {"session_ms": 5.0, "setup_s": 9.0, "scan_rows_per_pass": 100.0,
               "peak_rss_mb": 1.0, "heap_peak_mb": 1.0}
        layer = run.per_layer(res, [passes[1]], [passes[0]])
        self.assertEqual(sorted(layer), sorted(m["name"] for m in spec["per_layer"]))
        e2e = run.end_to_end(res, [passes[0]])
        self.assertEqual(sorted(e2e), sorted(m["name"] for m in spec["end_to_end"]))
        self.assertAlmostEqual(e2e["pass_s"], 2.0)
        self.assertAlmostEqual(e2e["rows_per_s"], 50.0)


class OracleCache(unittest.TestCase):
    def test_result_is_kept_per_sql_and_corpus(self):
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            first = verify.oracle_result(con, "SELECT 1.5 AS x, 'a' AS y", d, "c1")
            self.assertEqual(len(os.listdir(d)), 1)
            # A hit is read back from the cache with the same values and types.
            again = verify.oracle_result(con, "SELECT 1.5 AS x, 'a' AS y", d, "c1")
            self.assertTrue(again.equals(first))
            self.assertEqual(len(os.listdir(d)), 1)
            # Another corpus or another SQL text is another entry.
            verify.oracle_result(con, "SELECT 1.5 AS x, 'a' AS y", d, "c2")
            verify.oracle_result(con, "SELECT 2 AS x", d, "c1")
            self.assertEqual(len(os.listdir(d)), 3)


if __name__ == "__main__":
    unittest.main()
