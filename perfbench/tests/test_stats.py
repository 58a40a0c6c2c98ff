"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


def op(i, seconds, ok=True, kind="q"):
    return {"type": "op", "id": i, "kind": kind, "start_ns": 0,
            "end_ns": int(seconds * 1e9), "ok": ok, "error": "" if ok else "boom"}


SETUP = {"type": "setup", "session_s": 1.0, "generate_s": [3.0, 1.0, 2.0],
         "warmup_s": 4.0, "fingerprint": "f"}
END = {"type": "end", "retained_mb": 100.0}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([7.0], 95), 7.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(999), 95)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_quartile_spread_uses_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 12.0, 8.0, 10.0, 10.2, 9.8]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / med)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "op": 0, "name": f"s{i}",
                "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}

    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([self.span(1, 0, 0, 2)])[1], 2.0)

    def test_children_are_subtracted(self):
        t = stats.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 1, 3),
                              self.span(3, 1, 5, 6)])
        self.assertAlmostEqual(t[1], 7.0)
        self.assertAlmostEqual(t[2], 2.0)

    def test_overlapping_children_count_once(self):
        t = stats.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 1, 4),
                              self.span(3, 1, 3, 6)])
        self.assertAlmostEqual(t[1], 5.0)

    def test_children_are_clipped_to_the_parent(self):
        t = stats.self_times([self.span(1, 0, 2, 10), self.span(2, 1, 0, 4)])
        self.assertAlmostEqual(t[1], 6.0)

    def test_grandchildren_count_only_against_their_parent(self):
        t = stats.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 0, 4),
                              self.span(3, 2, 1, 2)])
        self.assertAlmostEqual(t[1], 6.0)
        self.assertAlmostEqual(t[2], 3.0)


class SummarizeTest(unittest.TestCase):
    def test_thrown_op_is_failed_not_fast(self):
        records = [SETUP, op(0, 1.0), op(1, 0.001, ok=False), op(2, 3.0), END]
        attempted, failed, m = stats.summarize(records, traced=False)
        self.assertEqual((attempted, failed), (3, 1))
        # the failed op is not a latency sample...
        self.assertAlmostEqual(m["op_p50_s"][0], 2.0)
        # ...and not a completed op, though its time was spent
        self.assertAlmostEqual(m["ops_per_s"][0], 2 / 4.001)

    def test_op_p50_is_the_median_of_per_kind_medians(self):
        records = [SETUP, op(0, 1.0, kind="a"), op(1, 3.0, kind="a"), op(2, 10.0, kind="b"),
                   op(3, 0.5, kind="c"), op(4, 0.5, kind="c"), op(5, 0.5, kind="c"),
                   op(6, 0.001, ok=False, kind="d"), END]
        _, _, m = stats.summarize(records, traced=False)
        # kinds a, b, c have medians 2, 10 and 0.5; the failed kind d has none
        self.assertAlmostEqual(m["op_p50_s"][0], 2.0)

    def test_end_to_end_metrics_and_setup_median(self):
        _, _, m = stats.summarize([SETUP, op(0, 0.5), END], traced=False)
        self.assertEqual(set(m), set(stats.END_TO_END_UNITS))
        self.assertAlmostEqual(m["setup_s"][0], 1.0 + 2.0 + 4.0)
        self.assertEqual(m["retained_mb"], (100.0, "MB"))

    def test_traced_run_reports_every_per_layer_metric(self):
        spans = [{"type": "span", "id": 1, "parent": 0, "op": 0, "name": "queries.graph",
                  "start_ns": 0, "end_ns": 4 * 10**9},
                 {"type": "span", "id": 2, "parent": 1, "op": 0, "name": "graph.call",
                  "start_ns": 10**9, "end_ns": 4 * 10**9}]
        counters = [{"type": "counter", "span": "graph.call", "name": "stages", "value": 6.0},
                    {"type": "counter", "span": "-", "name": "analysis_ms", "value": 8.0}]
        _, _, m = stats.summarize([SETUP, op(0, 4.0), op(1, 2.0)] + spans + counters + [END],
                                  traced=True)
        self.assertEqual(set(m), set(stats.per_layer_units()))
        self.assertAlmostEqual(m["graph.call_s"][0], 3.0)
        self.assertAlmostEqual(m["queries.graph.p50_s"][0], 4.0)
        self.assertAlmostEqual(m["spark.stages"][0], 3.0)
        self.assertAlmostEqual(m["plans.analysis_ms"][0], 4.0)
        # two samples: no percentile has ten beyond it, so the tail is the max
        self.assertAlmostEqual(m["trace.op_tail_s"][0], 4.0)

    def test_warm_up_spans_are_not_measured(self):
        spans = [{"type": "span", "id": 1, "parent": 0, "op": -1, "name": "ops.commit",
                  "start_ns": 0, "end_ns": 9 * 10**9},
                 {"type": "span", "id": 2, "parent": 0, "op": 0, "name": "ops.commit",
                  "start_ns": 0, "end_ns": 10**9}]
        _, _, m = stats.summarize([SETUP, op(0, 1.0)] + spans + [END], traced=True)
        self.assertAlmostEqual(m["ops.commit_s"][0], 1.0)

    def test_waste_ratio_and_stages_per_pass(self):
        spans = [{"type": "span", "id": i, "parent": 0, "op": i, "name": "text.curation",
                  "start_ns": 0, "end_ns": 10**9} for i in (1, 2)]
        counters = [{"type": "counter", "span": "", "name": "sources.rows_scanned", "value": 1200.0},
                    {"type": "counter", "span": "", "name": "sources.rows_returned", "value": 1000.0},
                    {"type": "counter", "span": "text.curation", "name": "stages", "value": 50.0},
                    {"type": "counter", "span": "ops.read", "name": "stages", "value": 7.0}]
        _, _, m = stats.summarize([SETUP, op(1, 1.0), op(2, 1.0)] + spans + counters + [END],
                                  traced=True)
        self.assertAlmostEqual(m["sources.rows_scanned_per_row_returned"][0], 1.2)
        self.assertAlmostEqual(m["text.stages_per_pass"][0], 25.0)


if __name__ == "__main__":
    unittest.main()
