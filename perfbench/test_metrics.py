"""Tests for the benchmark's own arithmetic: python3 -m unittest discover perfbench"""
import unittest

import metrics as m


class PercentileRule(unittest.TestCase):
    def test_p99_needs_a_thousand_samples(self):
        self.assertEqual(m.supported_quantile(1000), 0.99)
        self.assertEqual(m.supported_quantile(100000), 0.99)
        self.assertAlmostEqual(m.supported_quantile(500), 0.98)
        self.assertAlmostEqual(m.supported_quantile(100), 0.90)

    def test_tail_leaves_ten_samples_beyond(self):
        for n in (40, 100, 999, 1000, 5000):
            values = list(range(n))
            value, q, count = m.tail(values)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for v in values if v > value), m.MIN_BEYOND)
            self.assertLessEqual(q, 0.99)

    def test_too_few_samples_fall_back_to_the_median(self):
        value, q, _ = m.tail([5.0, 1.0, 3.0])
        self.assertEqual((value, q), (3.0, 0.5))

    def test_percentile_interpolates(self):
        self.assertEqual(m.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(m.percentile([10], 0.99), 10)

    def test_weighted_percentile_counts_each_sample(self):
        # 90 records landed at 100 ms and 10 at 900 ms.
        points = [(100, 90), (900, 10)]
        self.assertEqual(m.weighted_percentile(points, 0.5), 100)
        self.assertEqual(m.weighted_percentile(points, 0.9), 100)
        self.assertEqual(m.weighted_percentile(points, 0.91), 900)


class LatencyFromDue(unittest.TestCase):
    def test_a_late_put_counts_from_the_due_time(self):
        # Due at 100 ms, put late at 150 ms, readable at 180 ms: 80 ms, not 30.
        self.assertEqual(m.latency_ms(due_us=100_000, seen_us=180_000), 80.0)

    def test_backlog_records_land_when_their_batch_commits(self):
        progress = [
            {"start_ms": 1000, "input_rows": 50, "duration_ms": {"triggerExecution": 400}},
            {"start_ms": 1400, "input_rows": 0, "duration_ms": {"triggerExecution": 10}},
            {"start_ms": 1410, "input_rows": 30, "duration_ms": {"triggerExecution": 200}},
        ]
        self.assertEqual(m.batch_landing_ms(progress, start_ms=900), [(500, 50), (710, 30)])


class ProgressOther(unittest.TestCase):
    def test_trigger_time_outside_named_phases(self):
        d = {"triggerExecution": 100, "latestOffset": 10, "addBatch": 60, "walCommit": 5}
        self.assertEqual(m.progress_other_ms(d), 25)

    def test_no_phases(self):
        self.assertEqual(m.progress_other_ms({"triggerExecution": 7}), 7)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, name, start, end):
        return {"id": i, "parent": parent, "name": name, "start_us": start, "end_us": end}

    def test_children_are_subtracted_once_and_clipped(self):
        spans = [self.span(1, 0, "queries.row", 0, 100),
                 self.span(2, 1, "spark.job", 10, 30),
                 self.span(3, 1, "spark.job", 20, 50),     # overlaps span 2
                 self.span(4, 1, "cleanup.release", 90, 120)]  # runs past the parent
        own = m.self_times_us(spans)
        self.assertEqual(own[1], 100 - 40 - 10)
        self.assertEqual(own[2], 20)
        self.assertEqual(own[4], 30)

    def test_self_time_sums_per_layer(self):
        spans = [self.span(1, 0, "streaming.batch", 0, 1_000_000),
                 self.span(2, 1, "kinesis.latest_offset", 0, 250_000),
                 self.span(3, 1, "streaming.add_batch", 250_000, 750_000)]
        layers = m.layer_self_s(spans, ("kinesis", "streaming", "spark"))
        self.assertEqual(layers, {"kinesis": 0.25, "streaming": 0.75, "spark": 0.0})


class Spread(unittest.TestCase):
    def test_interquartile_share_of_the_median(self):
        med, q1, q3, sp = m.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(sp, (q3 - q1) / 5.5)


if __name__ == "__main__":
    unittest.main()
