"""Tests of the benchmark's own arithmetic and metric declarations.

    python3 -m unittest discover -s kgbench -p 'test_*.py'
"""
import json
import os
import unittest

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(range(1, 101)), (90, 90, 10))
        self.assertEqual(stats.tail_percentile(range(1, 1001)), (99, 990, 10))

    def test_falls_back_to_lower_percentiles(self):
        self.assertEqual(stats.tail_percentile(range(1, 41)), (75, 30, 10))
        self.assertEqual(stats.tail_percentile(range(1, 21)), (50, 10, 10))

    def test_none_when_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(range(1, 20)))
        self.assertIsNone(stats.tail_percentile([]))

    def test_ties_do_not_count_as_beyond(self):
        self.assertIsNone(stats.tail_percentile([5.0] * 200))
        self.assertEqual(stats.tail_percentile([1.0] * 90 + [2.0] * 10), (90, 1.0, 10))


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, a, b):
        return {"id": i, "parent": parent, "name": f"s{i}", "start_ms": a, "end_ms": b}

    def test_overlapping_children_counted_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30),
                 self.span(3, 1, 20, 50), self.span(4, 2, 12, 18)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 60)  # children cover [10, 50]
        self.assertAlmostEqual(st[2], 14)  # grandchild covers 6 of 20
        self.assertAlmostEqual(st[3], 30)
        self.assertAlmostEqual(st[4], 6)

    def test_children_clipped_to_parent(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 90, 120)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 90)

    def test_leaf_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([self.span(1, 0, 5, 8.5)])[1], 3.5)


class Attribution(unittest.TestCase):
    def test_stale_and_unknown_jobs_are_unattributed_and_accounting_closes(self):
        def job(desc, start, end, *durs):
            return {"id": start, "desc": desc, "start": start, "end": end,
                    "tasks": [[start + 1, start, d, 1, 1000] for d in durs]}
        jobs = [job("graft-stage:links", 0, 10, 4, 4, 8),
                job("graft-commit:links", 12, 20, 5),
                job("graft-stage:links", 15, 16, 3),  # stale: after the commit began
                job("count at Main.scala:1", 21, 22, 2),
                job("graft-stage:new_stage", 23, 24, 1)]
        trace = {"jobs": jobs, "window_task_ms": 27, "rows_out": {"links": 7}}
        m, stale, closes = stats.attribute(trace)
        self.assertEqual(stale, 1)
        self.assertTrue(closes)
        self.assertAlmostEqual(m["pipeline.links.task_s"], 0.016)
        self.assertAlmostEqual(m["pipeline.links.wall_s"], 0.010)
        self.assertAlmostEqual(m["pipeline.links.skew"], 2.0)
        self.assertAlmostEqual(m["pipeline.links.wait_s"], 0.003)
        self.assertEqual(m["pipeline.links.rows_out"], 7)
        self.assertAlmostEqual(m["pipeline.commit.task_s"], 0.005)
        self.assertAlmostEqual(m["pipeline.unattributed.task_s"], 0.006)
        self.assertAlmostEqual(m["pipeline.unattributed.share"], 6 / 27)
        self.assertEqual(m["pipeline.items.task_s"], 0)

    def test_missing_tasks_break_the_accounting(self):
        trace = {"jobs": [{"id": 1, "desc": "graft-stage:items", "start": 0, "end": 1,
                           "tasks": [[0, 0, 5, 0, 0]]}], "window_task_ms": 9}
        self.assertFalse(stats.attribute(trace)[2])


class Declared(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         stats.PER_LAYER)

    def test_workloads_match_config(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        with open(os.path.join(ROOT, "kgbench", "config.json")) as fh:
            cfg = json.load(fh)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(cfg["workloads"]))

    def test_every_metric_is_emitted(self):
        raw = {"ops": [{"ms": 2000.0, "units": 64, "ok": True}], "setup_s": [3.0, 1.0, 2.0],
               "index_build_s": 4.0, "peak_rss_kb": 2048, "jit_ms": 10, "gc_ms": 5,
               "failures": [], "quality": {}, "listener_ms": 500.0}
        e2e = stats.end_to_end(raw)
        self.assertEqual(set(e2e), {n for n, _, _ in stats.END_TO_END})
        self.assertAlmostEqual(e2e["setup_s"], 6.0)
        self.assertAlmostEqual(e2e["units_per_s"], 32.0)
        layers, problems = stats.per_layer(raw)
        self.assertEqual(set(layers), {n for n, _, _ in stats.PER_LAYER})
        self.assertAlmostEqual(layers["trace.overhead_ms"], 500.0)
        self.assertEqual(problems, [])


if __name__ == "__main__":
    unittest.main()
