"""Tests for the benchmark's own arithmetic and for generator determinism.

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen      # noqa: E402
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_caps_at_p95_with_enough_samples(self):
        self.assertEqual(metrics.tail_quantile(200), 0.95)
        self.assertEqual(metrics.tail_quantile(1000), 0.95)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertAlmostEqual(metrics.tail_quantile(100), 0.90)
        self.assertAlmostEqual(metrics.tail_quantile(32), 1 - 10 / 32)
        self.assertAlmostEqual(metrics.tail_quantile(20), 0.5)

    def test_maximum_below_twenty_samples(self):
        self.assertEqual(metrics.tail_quantile(19), 1.0)
        self.assertEqual(metrics.tail(list(range(5)))[0], 4)

    def test_ten_samples_lie_beyond_and_no_higher_percentile_qualifies(self):
        for n in range(20, 400):
            xs = list(range(n))
            q = metrics.tail_quantile(n)
            value = metrics.percentile(xs, q)
            self.assertGreaterEqual(sum(x > value for x in xs), 10, n)
            if q < metrics.TAIL_CAP:
                higher = metrics.percentile(xs, q + 1.5 / n)
                self.assertLess(sum(x > higher for x in xs), 10, n)

    def test_percentile_is_harrell_davis(self):
        self.assertAlmostEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(metrics.percentile([7], 0.95), 7)
        # n = 3, q = 0.5: Beta(2, 2) weights, I_x(2, 2) = 3x^2 - 2x^3, so the
        # largest sample weighs 1 - I_{2/3}(2, 2) = 7/27
        self.assertAlmostEqual(metrics.percentile([0, 0, 1], 0.5), 7 / 27)
        self.assertAlmostEqual(metrics.beta_cdf(2, 3, 0.4), 0.5248)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "req": 1, "name": f"s{i}",
                "start": start, "end": end}

    def test_children_subtracted(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 50, 60)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 70)
        self.assertEqual(st[2], 20)

    def test_overlapping_children_counted_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50), self.span(3, 1, 40, 70)]
        self.assertEqual(metrics.self_times(spans)[1], 40)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 80), self.span(3, 2, 0, 60)]
        st = metrics.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (20, 20, 60))

    def test_union_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 20), (30, 40)], 8, 35), 17)


class RowsExamined(unittest.TestCase):
    def test_ratio_of_sums(self):
        self.assertEqual(metrics.rows_examined_per_result([100, 300], [10, 30]), 10)
        self.assertEqual(metrics.rows_examined_per_result([1000, 0], [10, 90]), 10)

    def test_no_results(self):
        self.assertEqual(metrics.rows_examined_per_result([5], [0]), 0.0)


class Visibility(unittest.TestCase):
    def test_first_read_started_after_landing(self):
        reads = [{"lo": 0, "end": 50}, {"lo": 1, "end": 300}, {"lo": 1, "end": 400},
                 {"lo": 2, "end": 900}]
        self.assertEqual(metrics.visible_ms([(1, 100), (2, 500)], reads), 300)


class PhaseMetrics(unittest.TestCase):
    def test_per_op_counts_and_driver_time(self):
        raw = {
            "workload": "rag_serve",
            "phases": [{"phase": 2, "start": 0, "end": 1000}],
            "spans": [
                {"id": 1, "parent": 0, "req": 1, "name": "op.r3_search_topk", "start": 0, "end": 100},
                {"id": 2, "parent": 1, "req": 1, "name": "rag.search", "start": 0, "end": 100},
                {"id": 3, "parent": 0, "req": 3, "name": "op.a21_routed_topk_io", "start": 100, "end": 300},
                {"id": 4, "parent": 3, "req": 3, "name": "ann.routed", "start": 100, "end": 300},
            ],
            "span_stats": [
                {"span": 2, "jobs": 2, "stages": 3, "tasks": 8, "failed_tasks": 0,
                 "scan_rows": 500, "job_intervals": [[10, 40], [30, 60]]},
                {"span": 4, "jobs": 1, "stages": 1, "tasks": 4, "failed_tasks": 0,
                 "scan_rows": 40, "job_intervals": [[150, 250]]},
            ],
            "ops": [{"phase": 2, "op": "r3_search_topk", "start": 0, "end": 100, "rows": 10},
                    {"phase": 2, "op": "a21_routed_topk_io", "start": 100, "end": 300, "rows": 4}],
            "tables": [], "live_tables": 3,
        }
        m = metrics.span_layer_metrics(raw, 2)
        self.assertEqual(m["spark.jobs_per_op"], 1.5)
        self.assertEqual(m["spark.tasks_per_op"], 6)
        # op 1: 100 ms, jobs cover 10..60 -> 50 ms driver; op 2: 200 - 100
        self.assertEqual(m["spark.driver_ms_per_op"], 75)
        self.assertEqual(m["rag.rows_examined_per_result"], 50)
        self.assertEqual(m["ann.rows_examined_per_result"], 10)
        self.assertEqual(m["rag.search_ms"], 100)
        self.assertEqual(m["sources.reuse_ratio"], 1.0)


class MetricNames(unittest.TestCase):
    def test_traced_run_reports_exactly_the_listed_per_layer_metrics(self):
        import json
        import run
        bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
        raw = {
            "workload": "memory_lifecycle", "setup_marks": {},
            "phases": [{"phase": p, "start": 1000 * p, "end": 1000 * p + 1000} for p in range(1, 4)],
            "spans": [], "span_stats": [], "tables": [], "events": [], "live_tables": 1,
            "ops": [{"phase": p, "op": "m2_get", "start": 1000 * p + 100, "end": 1000 * p + 200,
                     "rows": 1, "lo": 0} for p in range(1, 4)],
        }
        got = {k: u for k, (_, u) in run.per_layer(raw, {"files": {}}).items()}
        got["fail_frac"] = "ratio"
        self.assertEqual(got, {m["name"]: m["unit"] for m in bench["per_layer"]})


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for wl in ("rag_serve", "memory_lifecycle"):
                a, b, c = (os.path.join(t, f"{wl}-{x}") for x in "abc")
                gen.generate(wl, 5, a)
                gen.generate(wl, 5, b)
                gen.generate(wl, 6, c)
                self.assertEqual(tree_digest(a), tree_digest(b), wl)
                self.assertNotEqual(tree_digest(a), tree_digest(c), wl)

    def test_key_counts_match_the_written_wal(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            m = gen.generate("memory_lifecycle", 3, t)
            wal = pq.read_table(os.path.join(t, "corpus", "events.parquet")).to_pydict()
            keys = set(zip(wal["user_id"], wal["event_type"]))
            self.assertEqual(m["key_counts"][0], len(keys))
            first = pq.read_table(os.path.join(t, "wal_batches", "batch-00000.parquet")).to_pydict()
            keys |= set(zip(first["user_id"], first["event_type"]))
            self.assertEqual(m["key_counts"][1], len(keys))
            self.assertGreater(m["key_counts"][1], m["key_counts"][0])


if __name__ == "__main__":
    unittest.main()
