"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import json
import os
import unittest

import pandas

import oracle
import report

SPEC = report.load_spec(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                     "BENCHMARK.json"))


def span(i, name, parent, start, end, **counters):
    c = {k: 0 for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
                        "shuffle_write_b", "shuffle_read_b", "spill_b", "input_b", "output_b")}
    c.update(counters)
    return {"id": i, "name": name, "parent": parent, "run": "r", "start_ns": start,
            "end_ns": end, "attrs": {"rows": 1000.0}, "counters": c}


def raw_record(checks=(), oracle_sql=None):
    passes = [{"wall_s": w, "ops": {"operators.q1": w / 2, "operators.q4": w / 2}, "failed": [],
               "heap_live_mb": 500.0 + w, "storage_mb": 10.0 * i, "host_s": 0.14} for i, w in enumerate([2.0, 2.2, 2.1, 2.3])]
    return {"ops": ["operators.q1", "operators.q4"], "passes": passes[:3], "traced_passes": passes[3:],
            "checks": list(checks), "oracle": oracle_sql or {}, "values": {},
            "spans": [span(0, "pass", -1, 0, 2_000_000_000, jobs=4, task_run_ms=4000),
                      span(1, "operators.q1", 0, 0, 1_000_000_000, jobs=3),
                      span(2, "operators.q4", 0, 1_000_000_000, 2_000_000_000, jobs=1)]}


class PrinterTest(unittest.TestCase):
    def test_every_end_to_end_metric_with_its_unit(self):
        values = report.end_to_end(raw_record(), setup_s=5.0)
        line = json.loads(report.result_line(SPEC, values, True, 6, 0, trace=0))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        for m in SPEC["end_to_end"]:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
            self.assertGreater(line["metrics"][m["name"]]["value"], 0)

    def test_every_per_layer_metric_with_its_unit(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        values = report.per_layer(raw_record(), names)
        line = json.loads(report.result_line(SPEC, values, True, 6, 0, trace=1))
        self.assertEqual(sorted(line["metrics"]), sorted(names))
        for m in SPEC["per_layer"]:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(line["metrics"]["operators.q1_s"]["value"], 1.0)
        self.assertEqual(line["metrics"]["spark.jobs"]["value"], 4)
        self.assertEqual(line["metrics"]["spark.storage_mb_held"]["value"], 30.0)
        self.assertAlmostEqual(line["metrics"]["trace.overhead_s"]["value"], 0.2)


class FailedFracTest(unittest.TestCase):
    def test_clean_run_has_no_failures(self):
        self.assertEqual(report.counts(raw_record(), {}), (6, 0))

    def test_wrong_check_counts_as_failed(self):
        raw = raw_record(checks=[{"op": "operators.d2", "ok": False, "detail": "hash"}])
        self.assertEqual(report.counts(raw, {}), (7, 1))

    def test_wrong_oracle_answer_counts_as_failed(self):
        raw = raw_record(oracle_sql={"q1_pricing_summary": "select 1"})
        got = pandas.DataFrame({"a": [1.0, 2.0]})
        reason = oracle.compare(got, pandas.DataFrame({"a": [1.0, 2.5]}))
        self.assertIsNotNone(reason)
        self.assertIsNone(oracle.compare(got, pandas.DataFrame({"a": [2.0, 1.0]})))
        self.assertEqual(report.counts(raw, {"q1_pricing_summary": reason}), (7, 1))

    def test_signed_zero_is_a_mismatch(self):
        self.assertFalse(oracle.same_value(-0.0, 0.0))
        self.assertTrue(oracle.same_value(3, 3.0))
        self.assertFalse(oracle.same_value("0.5", 0.5))


class SelfTimeTest(unittest.TestCase):
    def test_self_times_tile_each_span(self):
        spans = [span(0, "root", -1, 0, 100),
                 span(1, "a", 0, 10, 40), span(2, "b", 0, 30, 60),  # overlapping children
                 span(3, "c", 1, 15, 25), span(4, "d", 0, 90, 120)]  # d runs past its parent
        selfs = report.self_times(spans)
        self.assertAlmostEqual(selfs[0] * 1e9, 100 - 50 - 10)
        self.assertAlmostEqual(selfs[1] * 1e9, 30 - 10)
        for s in spans:  # brute force: every tick of a span is self time or inside a child
            kids = [c for c in spans if c["parent"] == s["id"]]
            ticks = sum(1 for t in range(s["start_ns"], s["end_ns"])
                        if not any(c["start_ns"] <= t < c["end_ns"] for c in kids))
            self.assertAlmostEqual(selfs[s["id"]] * 1e9, ticks)


if __name__ == "__main__":
    unittest.main()
