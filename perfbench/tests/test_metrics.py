"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs), (90.0, 90, 10, 100))
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail(xs), (99.0, 990, 10, 1000))

    def test_steps_down_the_ladder(self):
        # p75 of 39 samples leaves 9 beyond, so the median is the tail
        xs = list(range(1, 40))
        self.assertEqual(metrics.tail(xs)[:3], (50.0, 20, 19))
        # 40 samples: p75 is rank 30, ten beyond
        self.assertEqual(metrics.tail(list(range(1, 41))), (75.0, 30, 10, 40))

    def test_too_few_samples_fall_back_to_the_median(self):
        p, v, beyond, n = metrics.tail([4.0, 1.0, 3.0, 2.0])
        self.assertEqual((p, v, n), (50.0, 2.5, 4))
        self.assertEqual(beyond, 2)

    def test_order_does_not_matter(self):
        xs = [float(i) for i in range(60)]
        self.assertEqual(metrics.tail(xs), metrics.tail(list(reversed(xs))))


def route(name, exp_outcome, act_outcome, rows=3, act_rows=None, hash_=None, exp_hash="aa"):
    expected = {"outcome": exp_outcome, "rows": rows if exp_outcome == "ok" else 0,
                "columns": ["a", "b"] if exp_outcome == "ok" else [], "hash": exp_hash}
    actual = {"outcome": act_outcome, "rows": rows if act_rows is None else act_rows}
    if hash_ is not None:
        actual.update(columns=["a", "b"], hash=hash_, read_rows=actual["rows"])
    return {"name": name, "pass": 0, "expected": expected, "actual": actual}


class FailureAccounting(unittest.TestCase):
    def test_expected_fail_soft_routes_are_not_failures(self):
        raw = {"route_checks": [
            route("ok", "ok", "ok", hash_="aa"),
            route("empty", "empty", "empty"),
            route("gone", "http_404", "http_404"),
            route("boom", "http_500", "http_500"),
            route("tmpl", "templated", "templated"),
        ]}
        self.assertEqual(metrics.account(raw, {}), (5, []))

    def test_mismatches_count(self):
        raw = {"route_checks": [
            route("a", "ok", "ok", hash_="bb"),              # content differs
            route("b", "ok", "ok", act_rows=2),             # row count differs
            route("c", "http_404", "ok"),                   # should have failed soft
            route("d", "ok", "error: boom"),                # failed where it should not
            route("e", "ok", "ok"),                         # warm pass: no content check
        ]}
        attempted, failures = metrics.account(raw, {})
        self.assertEqual(attempted, 5)
        self.assertEqual([f.split(" ")[0] for f in failures], ["a", "b", "c", "d"])

    def test_query_executions(self):
        expected = {"q1": {"rows": 2, "hash": "x"}, "q2": {"rows": 1, "hash": "y"}}
        raw = {"passes": [
            {"pass": 0, "items": [
                {"name": "q1", "ok": True, "rows": 2, "hash": "x"},
                {"name": "q2", "ok": True, "rows": 1, "hash": "z"},
                {"name": "q3", "ok": True, "rows": 1, "hash": "w"}]},
            {"pass": 1, "items": [
                {"name": "q1", "ok": True},
                {"name": "q2", "ok": False, "error": "boom"},
                {"name": "q3", "ok": True}]},
        ]}
        attempted, failures = metrics.account(raw, expected)
        self.assertEqual(attempted, 6)
        self.assertEqual(len(failures), 3)
        self.assertIn("fingerprint", failures[0])
        self.assertIn("no stored fingerprint", failures[1])
        self.assertIn("threw", failures[2])


def span(i, name, start, end, parent=0, trace="t#1"):
    return {"id": i, "name": name, "trace": trace, "parent": parent, "start_us": start, "end_us": end}


class SelfTime(unittest.TestCase):
    def test_union_of_children(self):
        spans = [
            span(1, "item", 0, 100),
            span(2, "ops.build", 0, 30, 1),
            span(3, "exec.job", 20, 60, 1),   # overlaps the build
            span(4, "exec.job", 50, 70, 1),   # overlaps the first job
            span(5, "exec.stage", 25, 40, 3),
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 70)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 40 - 15)
        self.assertEqual(st[5], 15)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, "item", 10, 20), span(2, "exec.job", 5, 15, 1), span(3, "exec.job", 18, 40, 1)]
        self.assertEqual(metrics.self_times(spans)[1], 10 - 5 - 2)

    def test_layer_self_times_sum_to_the_root(self):
        spans = [
            span(1, "item", 0, 1_000_000),
            span(2, "ops.build", 0, 300_000, 1),
            span(3, "plans.analysis", 300_000, 350_000, 1),
            span(4, "exec.job", 350_000, 900_000, 1),
            span(5, "exec.stage", 400_000, 800_000, 4),
        ]
        ls = metrics.layer_self_times(spans)
        self.assertAlmostEqual(sum(ls.values()), 1.0)
        self.assertAlmostEqual(ls["driver"], 0.1)
        self.assertAlmostEqual(ls["ops"], 0.3)
        self.assertAlmostEqual(ls["plans"], 0.05)
        self.assertAlmostEqual(ls["exec"], 0.55)


class SpanBuilding(unittest.TestCase):
    def test_etl_steps_from_call_sites(self):
        self.assertEqual(metrics.etl_phase("json at Normalize.scala:39"), "etl.read")
        self.assertEqual(metrics.etl_phase("head at Normalize.scala:85"), "etl.nonempty")
        self.assertEqual(metrics.etl_phase("parquet at Normalize.scala:157"), "etl.write")
        self.assertEqual(metrics.etl_phase("count at Pipeline.scala:124"), "etl.verify")
        self.assertIsNone(metrics.etl_phase("collect at Main.scala:10"))

    def test_jobs_nest_under_the_innermost_span(self):
        raw = {
            "spans": [span(1, "item", 0, 100_000, trace="q#1"),
                      span(2, "ops.build", 0, 40_000, 1, trace="q#1")],
            "jobs": [{"job": 0, "start_us": 10_000, "group": "q#1", "call_site": "x", "stages": [0]},
                     {"job": 1, "start_us": 50_000, "group": "other", "call_site": "x", "stages": [1, 2]}],
            "job_ends": [{"job": 0, "end_us": 20_000, "ok": True}, {"job": 1, "end_us": 90_000, "ok": True}],
            "stages": [{"stage": 1, "attempt": 0, "start_us": 55_000, "end_us": 80_000}],
        }
        spans = {s["id"]: s for s in metrics.build_spans(raw)}
        jobs = {s["job"]: s for s in spans.values() if s["name"] == "exec.job"}
        self.assertEqual(jobs[0]["parent"], 2)   # eager job inside the build
        self.assertEqual(jobs[1]["parent"], 1)   # foreign group, attributed by time
        stage = next(s for s in spans.values() if s["name"] == "exec.stage")
        self.assertEqual(stage["parent"], jobs[1]["id"])


if __name__ == "__main__":
    unittest.main()
