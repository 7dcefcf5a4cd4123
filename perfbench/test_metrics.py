"""Tests for the benchmark's pure pieces.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, n), (90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100 * 89 / 99, places=2)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_ties_need_ten_strictly_beyond(self):
        # 21 samples, the top eleven equal: nothing lies beyond the tie,
        # so the median, with those eleven above it, is the tail
        xs = [1.0] * 10 + [2.0] + [3.0] * 10
        self.assertEqual(metrics.tail(xs)[:2], (2.0, 50.0))

    def test_never_below_the_median(self):
        # thirteen samples: only the lowest three have ten above them
        xs = list(range(13))
        self.assertEqual(metrics.tail(xs), (12, 100.0, 13))

    def test_too_few_samples_falls_back_to_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 100.0, 0))


class Freshness(unittest.TestCase):
    def test_oldest_row_due_time(self):
        # source started at t=100 s, 5000 rows/s: row 15000 was due at 103 s
        self.assertAlmostEqual(metrics.freshness(100.0, 15000, 5000, 107.5), 4.5)

    def test_first_batch_is_due_at_source_start(self):
        self.assertAlmostEqual(metrics.freshness(50.0, 0, 4000, 52.25), 2.25)

    def test_interval_rate(self):
        ev = [(10.0, 3000), (13.0, 3000), (16.0, 6000)]
        self.assertAlmostEqual(metrics.interval_rate(ev), 9000 / 6.0)
        self.assertIsNone(metrics.interval_rate([(1.0, 5)]))


class FailureCounting(unittest.TestCase):
    def test_operations_and_checks_count_alike(self):
        self.assertEqual(metrics.failures([True, False, True], [True, False]), (5, 2))

    def test_nothing_failed(self):
        self.assertEqual(metrics.failures([True], []), (1, 0))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_s": 0.0, "end_s": 10.0},
            {"id": 2, "parent": 1, "start_s": 1.0, "end_s": 4.0},
            {"id": 3, "parent": 1, "start_s": 3.0, "end_s": 6.0},  # overlaps 2
            {"id": 4, "parent": 1, "start_s": 9.0, "end_s": 12.0},  # clipped
        ]
        self.assertAlmostEqual(metrics.self_times(spans)[1], 10.0 - 5.0 - 1.0)
        self.assertAlmostEqual(metrics.self_times(spans)[3], 3.0)


def stream_record():
    commits = [{"kind": "commit", "group": g, "batch": b, "first_row": b * 12000,
                "end_row": (b + 1) * 12000, "rate": 4000,
                "source_start_epoch_s": 1000.0 + g,
                "marker_epoch_s": 1000.0 + g + 3 * b + 5.0} for g in (0, 1) for b in range(6)]
    triggers = [{"kind": "trigger", "query": f"q{g}", "batch": b,
                 "start_epoch_s": 1000.0 + g + 3 * b + 3.0, "trigger_s": 2.0,
                 "add_batch_s": 1.8, "wal_commit_s": 0.05, "latest_offset_s": 0.01,
                 "query_planning_s": 0.02, "commit_offsets_s": 0.03, "input_rows": 36000}
                for g in (0, 1) for b in range(6)]
    return {"workload": "stream_curated", "seed": 1, "cores": 4,
            "ops": commits + triggers, "checks": [{"name": "c", "ok": True, "detail": ""}],
            "spans": [],
            "facts": {"window_start_epoch_s": 1008.0, "window_end_epoch_s": 1024.0,
                      "window_s": 16.0, "cpu_end_s": 40.0,
                      "heap_peak_mb": 300.0,
                      "phases_start": {"commits": 0.0}, "phases_end": {"commits": 8.0}}}


def query_record():
    ops = [{"kind": "query", "name": q, "pass": 0, "wall_s": 1.0 + i, "ok": True,
            "exchanges": 2} for i, q in enumerate(metrics.QUERIES)]
    return {"workload": "query_mix", "seed": 1, "cores": 4,
            "ops": ops, "checks": [], "spans": [],
            "facts": {"window_start_epoch_s": 1010.0, "window_end_epoch_s": 1100.0,
                      "window_s": 90.0, "cpu_end_s": 155.0,
                      "heap_peak_mb": 400.0}}


class PrintedMetrics(unittest.TestCase):
    def check_result(self, rec, trace, **kw):
        result, report = metrics.summarize(rec, 1000.0, trace, **kw)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        table = metrics.PER_LAYER if trace else metrics.END_TO_END
        self.assertEqual(list(result["metrics"]), [n for n, _, _ in table])
        for name, unit, _ in table:
            self.assertEqual(result["metrics"][name]["unit"], unit)
        json.dumps(result)
        return result, report

    def test_stream_end_to_end(self):
        result, report = self.check_result(stream_record(), False)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertAlmostEqual(m["setup_s"], 8.0)
        self.assertAlmostEqual(m["cpu_s"], 40.0)
        self.assertAlmostEqual(m["rows_per_s"], 8000.0)
        self.assertAlmostEqual(m["latency_s"], 5.0)
        self.assertTrue(all(v > 0 for v in m.values()))
        self.assertTrue(result["correct"])
        names = [line.split()[0] for line in report[:len(metrics.REPORT_NAMES)]]
        self.assertEqual(names, metrics.REPORT_NAMES)

    def test_stream_per_layer(self):
        result, _ = self.check_result(stream_record(), True)
        self.assertAlmostEqual(result["metrics"]["stream.source_passes"]["value"], 3.0)

    def test_query_mix(self):
        rows = {q: 10 for q in metrics.QUERIES}
        result, _ = self.check_result(query_record(), False, result_rows=rows)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertAlmostEqual(m["ops_per_s"], 13 / sum(1.0 + i for i in range(13)))
        self.assertAlmostEqual(m["latency_s"], 7.0)
        self.check_result(query_record(), True, result_rows=rows)

    def test_a_failed_check_makes_the_run_incorrect(self):
        bad = [{"name": "oracle q01", "ok": False, "detail": "FAIL"}]
        result, _ = metrics.summarize(query_record(), 1000.0, False, bad)
        self.assertEqual((result["correct"], result["attempted"], result["failed"]),
                         (False, 14, 1))

    def test_benchmark_json_matches(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(metrics.WORKLOADS))
        for key, table in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
            self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec[key]],
                             [tuple(t) for t in table])


if __name__ == "__main__":
    unittest.main()
