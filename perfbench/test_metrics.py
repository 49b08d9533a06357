"""Unit tests for the benchmark's own arithmetic. Run from the root of a
checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import math
import os
import unittest

import metrics
import report


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(2000), 99)

    def test_ten_samples_lie_beyond_the_reported_value(self):
        for n in (20, 37, 100, 160, 200, 999):
            values = list(range(1, n + 1))
            v, p = metrics.tail(values)
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10, n)

    def test_too_few_samples_report_the_median(self):
        self.assertEqual(metrics.tail([1.0, 2.0, 3.0, 10.0]), (2.5, 50))

    def test_cap(self):
        self.assertEqual(metrics.tail(list(range(1, 1001)), cap=95), (950, 95))


class Freshness(unittest.TestCase):
    progress = [
        {"batch": 0, "rows": 0, "end_offset": -1, "timestamp_ms": 500, "duration_ms": {"triggerExecution": 5}},
        {"batch": 1, "rows": 240, "end_offset": 1, "timestamp_ms": 1000,
         "duration_ms": {"triggerExecution": 700, "addBatch": 600}},
        {"batch": 2, "rows": 120, "end_offset": 2, "timestamp_ms": 1700,
         "duration_ms": {"triggerExecution": 400}},
    ]

    def test_commit_is_trigger_start_plus_trigger_execution(self):
        self.assertEqual(metrics.commit_ms(self.progress[1]), 1700)

    def test_freshness_from_scheduled_send_to_commit_of_holding_batch(self):
        chunks = [{"offset": 0, "scheduled_ms": 900}, {"offset": 1, "scheduled_ms": 950},
                  {"offset": 2, "scheduled_ms": 1100}, {"offset": 3, "scheduled_ms": 1200}]
        self.assertEqual(metrics.freshness_s(chunks, self.progress), [0.8, 0.75, 1.0, None])

    @staticmethod
    def sawtooth(troughs, climb=10, chunk=120):
        out = []
        for t in troughs:
            out += [{"rows": t + i * chunk} for i in range(climb)]
        return out

    def test_level_sawtooth_from_an_empty_start_is_not_growth(self):
        samples = [{"rows": i * 120} for i in range(30)] + self.sawtooth([4000, 4500, 3900, 4400, 4100])
        self.assertFalse(metrics.backlog_grows(samples, 120))

    def test_rising_troughs_are_growth(self):
        self.assertTrue(metrics.backlog_grows(self.sawtooth([3000, 4000, 6000, 9000, 12000, 16000]), 120))

    def test_no_commit_with_a_long_queue_is_growth(self):
        self.assertTrue(metrics.backlog_grows([{"rows": i * 120} for i in range(50)], 120))
        one_commit = [{"rows": 120 * i} for i in range(1, 11)] + [{"rows": 120 * i} for i in range(2, 6)]
        self.assertFalse(metrics.backlog_grows(one_commit, 120))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, layer, a, b):
        return {"id": i, "parent": parent, "layer": layer, "start_ms": a, "end_ms": b}

    def test_self_time_subtracts_covered_interval_once(self):
        spans = [self.span(1, 0, "uncovered", 0, 1000),
                 self.span(2, 1, "sink", 100, 600),
                 self.span(3, 2, "sink_jobs", 200, 400),
                 self.span(4, 2, "sink_jobs", 300, 500),   # overlaps 3
                 self.span(5, 1, "sources", 900, 1200)]    # clipped at 1000
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[1], (1000 - 500 - 100) / 1000.0)
        self.assertAlmostEqual(s[2], (500 - 300) / 1000.0)
        self.assertAlmostEqual(s[3], 0.2)
        self.assertAlmostEqual(s[5], 0.3)

    def test_layer_self_times_account_for_the_root_wall(self):
        spans = [self.span(1, 0, "uncovered", 0, 1000),
                 self.span(2, 1, "sink", 100, 600),
                 self.span(3, 2, "sink_jobs", 200, 400),
                 self.span(5, 1, "sources", 700, 950)]
        layers = metrics.layer_self_times(spans)
        self.assertAlmostEqual(sum(layers.values()), 1.0)
        self.assertAlmostEqual(layers["uncovered"], 0.25)

    def test_jobs_attach_to_submitting_span_or_batch(self):
        trace = {"spans": [self.span(7, 0, "uncovered", 0, 10), self.span(8, 7, "sink", 1, 9)],
                 "jobs": [{"job": 0, "key": "8", "start_ms": 2, "end_ms": 3},
                          {"job": 1, "key": "batch:4", "start_ms": 4, "end_ms": 5},
                          {"job": 2, "key": "none", "start_ms": 4, "end_ms": 5}]}
        jobs = metrics.job_spans(trace, {"4": 8}, first_id=100)
        self.assertEqual([(j["parent"], j["layer"]) for j in jobs], [(8, "sink_jobs"), (8, "sink_jobs")])


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([0.5, 2.0, 8.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([3.0]), 3.0)

    def test_short_and_long_weigh_alike(self):
        self.assertAlmostEqual(metrics.geomean([0.1, 10.0]), 1.0)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            metrics.geomean([1.0, 0.0])

    def test_per_kind_medians(self):
        ops = [{"kind": "a", "s": 1.0}, {"kind": "a", "s": 3.0}, {"kind": "b", "s": 4.0}]
        self.assertEqual(metrics.per_kind_medians(ops), {"a": 2.0, "b": 4.0})
        self.assertTrue(math.isclose(metrics.geomean(list(metrics.per_kind_medians(ops).values())), math.sqrt(8)))


class OutputCheck(unittest.TestCase):
    warm = {"q1": {"rows": 3, "digest": "aa" * 32}, "q2": {"rows": 1, "digest": "bb" * 32}}

    def test_matching_digests_pass(self):
        self.assertEqual(metrics.digest_problems(self.warm, {k: dict(v) for k, v in self.warm.items()}), [])

    def test_wrong_expected_digest_fails(self):
        expected = {"q1": {"rows": 3, "digest": "cc" * 32}, "q2": {"rows": 1, "digest": "bb" * 32}}
        problems = metrics.digest_problems(self.warm, expected)
        self.assertEqual(len(problems), 1)
        self.assertTrue(problems[0].startswith("q1:"))

    def test_wrong_row_count_and_errors_fail(self):
        warm = dict(self.warm, q2={"rows": -1, "digest": "", "error": "boom"})
        expected = {"q1": {"rows": 4, "digest": "aa" * 32}, "q2": {"rows": 1, "digest": "bb" * 32}}
        self.assertEqual(len(metrics.digest_problems(warm, expected)), 2)

    def test_failed_check_counts_in_the_error_rate(self):
        raw = {"workload": "query_mix", "setup_s": 1.0, "heap_after_gc_mb": 1.0, "gc_s": 0.1,
               "cores": 4, "trace": None,
               "ops": [{"kind": q, "s": 0.5, "ok": True, "traced": False, "records": 1, "bytes": 0,
                        "detail": ""} for q in report.QUERIES],
               "workload_data": {"warm": self.warm, "phases": []}}
        good = report.build(raw, {k: dict(v) for k, v in self.warm.items()}, 4, 0.0, 0.0)
        self.assertEqual((good.failed, good.attempted), (0, len(report.QUERIES) + 2))
        bad = report.build(raw, {"q1": {"rows": 3, "digest": "cc" * 32}, "q2": self.warm["q2"]}, 4, 0.0, 0.0)
        self.assertEqual(bad.failed, 1)
        self.assertGreater(bad.named["error_rate"], 0)


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_the_reported_metrics(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json sits at the root of a checkout")
        with open(path) as fh:
            b = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], list(report.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
