"""Unit tests of the benchmark's metric math (no Spark needed).

    python3 -m unittest discover -s perfbench/tests -p 'test_metrics.py'
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import metrics  # noqa: E402


def batch(i, start, end, ts, trigger, rows=None):
    return {"batch": i, "start": start, "end": end, "ts_ms": ts, "rows": rows or 0,
            "dur": {"triggerExecution": trigger}}


def chunk(offset, rows, sched, sent=None, phase="open"):
    return {"offset": offset, "rows": rows, "sched": sched,
            "sent": sched if sent is None else sent, "phase": phase}


class PercentileTest(unittest.TestCase):
    def test_unweighted_interpolates_like_numpy(self):
        v = [15, 20, 35, 40, 50]
        self.assertEqual(metrics.percentile(v, 50), 35)
        self.assertAlmostEqual(metrics.percentile(v, 40), 29.0)
        self.assertAlmostEqual(metrics.percentile(v, 95), 48.0)
        self.assertEqual(metrics.percentile(v, 0), 15)
        self.assertEqual(metrics.percentile(v, 100), 50)

    def test_weights_equal_repeated_samples(self):
        vals, wts = [3.0, 1.0, 2.0, 10.0], [2, 5, 1, 3]
        expanded = [v for v, w in zip(vals, wts) for _ in range(w)]
        for pct in (0, 5, 25, 50, 75, 90, 95, 99, 100):
            self.assertAlmostEqual(metrics.percentile(vals, pct, wts),
                                   metrics.percentile(expanded, pct))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([1.0], 50, [0])

    def test_quartile_spread_uses_statistics_quantiles(self):
        v = [10.0, 11.0, 12.0, 9.0, 10.5, 10.2, 9.8, 10.1, 10.4, 30.0]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(metrics.quartile_spread(v), (q3 - q1) / q2)

    def test_tail_support_needs_ten_samples_beyond(self):
        self.assertTrue(metrics.supports(200, 95))
        self.assertFalse(metrics.supports(199, 95))
        self.assertTrue(metrics.supports(20, 50))


class AttributionTest(unittest.TestCase):
    def setUp(self):
        # offsets 0..5; batch 0 takes 0, batch 1 takes 1-3, batch 2 is a
        # no-data batch, batch 3 takes 4-5
        self.batches = [batch(0, -1, 0, 1000, 100, 10), batch(1, 0, 3, 1100, 200, 30),
                        batch(2, 3, 3, 1300, 5), batch(3, 3, 5, 1310, 50, 20)]

    def test_each_offset_maps_to_the_batch_that_consumed_it(self):
        find = metrics.batch_of_offsets(self.batches)
        self.assertEqual([find(k)["batch"] for k in range(6)], [0, 1, 1, 1, 3, 3])
        self.assertIsNone(find(6))

    def test_row_latency_runs_from_schedule_to_batch_completion(self):
        chunks = [chunk(0, 10, 950, phase="warm"), chunk(1, 10, 1050), chunk(2, 10, 1090, 1095),
                  chunk(3, 10, 1100), chunk(4, 10, 1200), chunk(5, 10, 1290)]
        lat = metrics.row_latencies(chunks, self.batches)
        # batch 1 completes at 1300, batch 3 at 1360; the warm chunk is skipped
        self.assertEqual(lat, [(250, 10), (210, 10), (200, 10), (160, 10), (70, 10)])

    def test_unconsumed_offset_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.row_latencies([chunk(9, 1, 0)], self.batches)

    def test_backlog_counts_sent_rows_not_yet_completed(self):
        chunks = [chunk(k, 10, 1000 + 40 * k) for k in range(6)]
        # at 1305 batches 0 and 1 are complete (offsets <= 3); offset 4 was
        # sent at 1160, offset 5 at 1200
        self.assertEqual(metrics.backlog_rows(chunks, self.batches, 1305), 20)
        self.assertEqual(metrics.backlog_rows(chunks, self.batches, 1400), 0)

    def test_open_loop_is_invalid_when_late_or_behind(self):
        # chunks of 10 rows sent every 40 ms; at 1305 two are not completed
        chunks = [chunk(k, 10, 1000 + 40 * k) for k in range(6)]
        q = {"name": "q", "chunks": chunks, "batches": self.batches, "open_end": 1305,
             "tick_ms": 40}
        self.assertEqual(metrics.open_loop_problems({"queries": [q]}, 20), [])
        self.assertEqual(len(metrics.open_loop_problems({"queries": [q]}, 19)), 1)
        late = dict(q, chunks=[chunk(k, 10, 1000 + 40 * k, 1041 + 40 * k) for k in range(6)])
        self.assertIn("lateness", metrics.open_loop_problems({"queries": [late]}, 20)[0])

    def test_phase_batches_follow_the_last_consumed_chunk(self):
        chunks = [chunk(0, 10, 0, phase="warm"), chunk(1, 10, 0, phase="closed"),
                  chunk(2, 10, 0, phase="closed"), chunk(3, 10, 0, phase="closed"),
                  chunk(4, 10, 0, phase="open"), chunk(5, 10, 0, phase="open")]
        got = metrics.phase_batches(chunks, self.batches, "closed")
        self.assertEqual([b["batch"] for b in got], [1, 2])


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time_once(self):
        spans = [
            {"id": 1, "parent": 0, "op": "q", "name": "query", "start": 0, "end": 100},
            {"id": 2, "parent": 1, "op": "q", "name": "plan.build", "start": 10, "end": 40},
            {"id": 3, "parent": 1, "op": "q", "name": "exec", "start": 30, "end": 90},
            {"id": 4, "parent": 3, "op": "q", "name": "job", "start": 40, "end": 60},
            {"id": 5, "parent": 3, "op": "q", "name": "job", "start": 50, "end": 70},
            {"id": 6, "parent": 3, "op": "q", "name": "job", "start": 85, "end": 120},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 80)   # children cover 10..90
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 60 - 30 - 5)  # 40..70 and 85..90 (clipped)
        self.assertEqual(st[4], 20)

    def test_jobs_become_children_of_their_layer_span(self):
        spans = [{"id": 1, "parent": 0, "op": "q#0", "name": "query", "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "op": "q#0", "name": "plan.build", "start": 0, "end": 4},
                 {"id": 3, "parent": 1, "op": "q#0", "name": "exec", "start": 4, "end": 10}]
        jobs = [{"op": "build:q#0", "start": 1, "end": 2, "stages": [{"start": 1, "end": 2}]},
                {"op": "exec:q#0", "start": 5, "end": 9, "stages": []},
                {"op": None, "start": 0, "end": 1, "stages": []}]
        out = metrics.job_spans(spans, jobs)
        parents = [(s["name"], s["parent"]) for s in out[3:]]
        self.assertEqual(parents, [("job", 2), ("stage", 4), ("job", 3)])


class MetricSetTest(unittest.TestCase):
    def test_per_layer_names_are_unique_and_within_limits(self):
        units = metrics.per_layer_units()
        self.assertLessEqual(len(units), 128)
        for name, unit in units.items():
            self.assertRegex(name, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertRegex(unit, r"^[A-Za-z0-9_/%.-]{1,16}$")


if __name__ == "__main__":
    unittest.main()
