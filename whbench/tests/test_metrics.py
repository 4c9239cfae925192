"""Self-tests for the benchmark's own arithmetic and output contract.

    python3 -m unittest discover -s whbench/tests
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402


def span(i, parent, name, start, end, counts=None):
    """A span row as the JVM writes it; times in ms, ns derived from them."""
    return [i, parent, name, -1, start * 10**6, end * 10**6, start, end, counts or {}]


def record(spans=(), jobs=(), tasks=(), samples=None, scalars=None):
    return {
        "cores": 4, "spans": list(spans), "jobs_ms": list(jobs),
        "task_fields": ["finish_ms", "run_ms", "gc_ms", "shuffle_bytes",
                        "spill_bytes", "output_bytes", "input_bytes"],
        "tasks": list(tasks), "samples": samples or {},
        "scalars": scalars or {}, "first_op_ms": 0, "rows_committed": 0,
        "commit_wall_s": 0.0, "calib_before": {"elapsed_s": 0.0},
        "trace_cost_s": 0.0, "listener_s": 0.0,
    }


class PercentileRule(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond_it(self):
        self.assertEqual(metrics.min_samples_for(0.95), 200)
        self.assertIsNone(metrics.percentile(list(range(199)), 0.95))
        self.assertEqual(metrics.percentile(list(range(200)), 0.95), 189)

    def test_median_needs_twenty_samples(self):
        self.assertEqual(metrics.min_samples_for(0.5), 20)
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.percentile(list(range(20)), 0.5), 9)
        self.assertEqual(metrics.percentile(list(range(21)), 0.5), 10)

    def test_serve_median_withheld_below_floor(self):
        rec = record(samples={"serve": [0.1] * 19, "commit": [1.0]})
        rec["commit_wall_s"], rec["rows_committed"] = 1.0, 10
        e2e = metrics.end_to_end(rec, start_s=0.0)
        self.assertIsNone(e2e["serve_p50_s"]["value"])
        self.assertEqual(e2e["serve_p50_s"]["samples"], 19)
        rec["samples"]["serve"].append(0.3)
        self.assertAlmostEqual(metrics.end_to_end(rec, 0.0)["serve_p50_s"]["value"], 0.1)

    def test_commit_is_sample_mean_and_rows_per_s_uses_wall(self):
        # the wall holds a 3 s stall between commits (a compaction): it
        # slows rows_per_s but not commit_s
        rec = record(samples={"commit": [2.0, 4.0, 3.0], "compact": [3.0]})
        rec["commit_wall_s"], rec["rows_committed"] = 12.0, 900
        e2e = metrics.end_to_end(rec, 0.0)
        self.assertAlmostEqual(e2e["commit_s"]["value"], 3.0)
        self.assertAlmostEqual(e2e["rows_per_s"]["value"], 75.0)

    def test_setup_excludes_the_calibration(self):
        rec = record()
        rec["first_op_ms"], rec["calib_before"]["elapsed_s"] = 12_000, 2.0
        self.assertAlmostEqual(metrics.end_to_end(rec, 1.0)["setup_s"]["value"], 9.0)


class Spans(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = metrics.build_spans([span(0, -1, "phase:commit", 0, 100),
                                     span(1, 0, "a", 10, 30), span(2, 0, "b", 40, 90)])
        self.assertAlmostEqual(metrics.self_time_s(spans[0]), 0.030)
        self.assertAlmostEqual(metrics.self_time_s(spans[1]), 0.020)

    def test_self_time_clips_children_to_parent(self):
        spans = metrics.build_spans([span(0, -1, "p", 0, 100), span(1, 0, "c", 80, 130)])
        self.assertAlmostEqual(metrics.self_time_s(spans[0]), 0.080)

    def test_coverage_is_lowest_phase_share(self):
        spans = metrics.build_spans([
            span(0, -1, "phase:commit", 0, 100), span(1, 0, "x", 0, 95),
            span(2, -1, "phase:serve", 100, 200), span(3, 2, "y", 100, 180),
            span(4, -1, "phase:seed", 200, 1000)])
        self.assertAlmostEqual(metrics.phase_coverage(spans)["commit"], 0.95)
        self.assertAlmostEqual(metrics.coverage(spans), 0.80)

    def test_events_charge_innermost_span_and_roll_up(self):
        rows = [span(0, -1, "phase:commit", 0, 100), span(1, 0, "op", 10, 50)]
        tasks = [[20, 1000, 10, 5, 0, 7, 3], [60, 500, 0, 0, 0, 0, 0], [500, 9, 9, 9, 9, 9, 9]]
        rec = record(rows, jobs=[15, 70, 400], tasks=tasks)
        spans = metrics.build_spans(rec["spans"])
        loose = metrics.attribute(spans, rec["jobs_ms"], rec["tasks"], rec["task_fields"])
        self.assertEqual(spans[1].spark["jobs"], 1)
        self.assertEqual(spans[1].spark["tasks"], 1)
        self.assertAlmostEqual(spans[1].spark["task_run_s"], 1.0)
        self.assertEqual(spans[1].spark["output_bytes"], 7)
        self.assertEqual(spans[0].spark["jobs"], 2)
        self.assertAlmostEqual(spans[0].spark["task_run_s"], 1.5)
        self.assertEqual(loose["jobs"], 1)
        self.assertEqual(loose["tasks"], 1)
        # 1.0 s of task time over a 0.04 s span on 4 cores
        self.assertAlmostEqual(metrics.busy_ratio(spans[1], 4), 1.0 / (0.04 * 4))

    def test_overhead_adds_client_and_listener_cost(self):
        rec = record()
        rec["trace_cost_s"], rec["listener_s"] = 0.25, 0.5
        self.assertAlmostEqual(metrics.layer_metrics(rec)["trace.overhead_s"]["value"], 0.75)

    def test_layer_metrics_cover_every_declared_name(self):
        rows = [span(0, -1, "phase:commit", 0, 100),
                span(1, 0, "ChangeFeed.diff", 0, 40, {"rows_out": 30, "bytes_out": 100}),
                span(2, 0, "ChangeFeed.diff", 40, 60, {"rows_out": 2, "bytes_out": 100}),
                span(3, -1, "Pipeline.run", 200, 300, {"inserted": 90, "offered": 100}),
                span(4, -1, "Pipeline.run", 300, 500, {"inserted": 0, "offered": 50})]
        rec = record(rows, tasks=[[50, 10, 0, 0, 0, 400, 0]],
                     samples={"commit": [0.1]})
        out = metrics.layer_metrics(rec)
        self.assertEqual(set(out), set(metrics.LAYER))
        self.assertAlmostEqual(out["ChangeFeed.diff.s"]["value"], 0.06)
        self.assertEqual(out["ChangeFeed.diff.rows_out"]["value"], 32)
        self.assertAlmostEqual(out["store.write_amp"]["value"], 2.0)
        self.assertEqual(out["AnnIndexStore.serve.s"]["value"], 0.0)
        self.assertAlmostEqual(out["Pipeline.run.s"]["value"], 0.15)
        self.assertAlmostEqual(out["Pipeline.inserted_ratio"]["value"], 0.6)


class Steal(unittest.TestCase):
    def test_steal_share_of_the_interval(self):
        before = [100, 0, 10, 500, 5, 0, 5, 20, 0, 0]
        after = [400, 0, 40, 600, 5, 0, 15, 120, 0, 0]
        # 300 user + 30 system + 100 idle + 10 softirq + 100 steal
        self.assertAlmostEqual(metrics.steal_share(before, after), 100 / 540)
        self.assertIsNone(metrics.steal_share(None, after))


class ResultLine(unittest.TestCase):
    def test_round_trip(self):
        line = metrics.result_line(True, 12, 0, {
            "setup_s": {"value": 1.25, "unit": "s", "samples": 1}})
        obj = metrics.parse_result_line(line)
        self.assertEqual(obj["metrics"]["setup_s"], {"value": 1.25, "unit": "s"})
        self.assertEqual((obj["correct"], obj["attempted"], obj["failed"]), (True, 12, 0))

    def test_rejects_bad_shapes(self):
        good = {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}
        for bad in ({**good, "extra": 1}, {**good, "attempted": 0},
                    {**good, "failed": 1.5}, {**good, "correct": "yes"},
                    {**good, "metrics": {"x": {"value": 1, "unit": "s", "n": 3}}}):
            with self.assertRaises(ValueError):
                metrics.parse_result_line(json.dumps(bad))

    def test_benchmark_json_matches_metric_tables(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, set(metrics.END_TO_END))
        self.assertEqual({m["name"] for m in spec["per_layer"]}, set(metrics.LAYER))
        for m in spec["end_to_end"]:
            self.assertEqual((m["unit"], m["better"]), metrics.END_TO_END[m["name"]])
        for m in spec["per_layer"]:
            self.assertEqual((m["unit"], m["better"]), metrics.LAYER[m["name"]][:2])

    def test_fails_without_a_repository_around_it(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, os.path.join(d, "whbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "whbench/run.py", "--workload", "cube_maintain",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
