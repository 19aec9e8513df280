"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402

SPEC = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())


def span(sid, parent, start, end, name="x", jobs=None):
    return {"id": sid, "parent": parent, "name": name, "req": "", "start_ms": start,
            "end_ms": end, "counts": None if jobs is None else {"jobs": jobs}}


class TailPercentile(unittest.TestCase):
    def test_fraction_caps_at_p90_and_floors_at_median(self):
        self.assertEqual(benchlib.tail_fraction(100), 0.9)
        self.assertEqual(benchlib.tail_fraction(1000), 0.9)
        self.assertAlmostEqual(benchlib.tail_fraction(50), 0.8)
        self.assertEqual(benchlib.tail_fraction(20), 0.5)
        self.assertEqual(benchlib.tail_fraction(5), 0.5)
        self.assertIsNone(benchlib.tail_fraction(0))

    def test_at_least_ten_samples_beyond(self):
        for n in range(20, 300):
            values = [float(i) for i in range(n)]
            value, frac = benchlib.tail(values)
            beyond = sum(1 for v in values if v > value)
            self.assertGreaterEqual(beyond, 10, n)
            if frac < 0.9:
                # the highest such percentile: exactly ten beyond
                self.assertEqual(beyond, 10, n)

    def test_interpolates_between_ranks(self):
        self.assertEqual(benchlib.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(benchlib.percentile([7], 0.9), 7)
        self.assertEqual(benchlib.percentile([3, 1, 2], 0.5), 2)


class SelfTime(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [
            span(1, 0, 0, 100),
            span(2, 1, 10, 40),   # child
            span(3, 1, 30, 60),   # overlaps its sibling: 10..60 covered once
            span(4, 2, 15, 20),   # grandchild
        ]
        selfs = benchlib.self_times(spans)
        self.assertEqual(selfs[1], 50)
        self.assertEqual(selfs[2], 25)
        self.assertEqual(selfs[3], 30)
        self.assertEqual(selfs[4], 5)

    def test_child_outside_parent_is_clipped(self):
        selfs = benchlib.self_times([span(1, 0, 0, 10), span(2, 1, 8, 30)])
        self.assertEqual(selfs[1], 8)
        self.assertEqual(selfs[2], 22)

    def test_covered_clips_and_merges(self):
        self.assertEqual(benchlib.covered([(0, 5), (3, 8), (20, 30)], 2, 25), 11)
        self.assertEqual(benchlib.covered([], 0, 10), 0)
        self.assertEqual(benchlib.covered([(12, 15)], 0, 10), 0)

    def test_summary_sums_per_name(self):
        spans = [span(1, 0, 0, 10, "a", jobs=2), span(2, 1, 2, 4, "b", jobs=1),
                 span(3, 0, 20, 25, "a", jobs=3)]
        table = benchlib.span_summary(spans)
        self.assertEqual(table["a"], {"count": 2, "total_ms": 15, "self_ms": 13, "jobs": 5})
        self.assertEqual(table["b"]["self_ms"], 2)


class MetricNames(unittest.TestCase):
    def test_rule(self):
        for ok in ["op_p50_ms", "a", "spark.jobs_per_req.query", "x-1.y_2", "9lives"]:
            self.assertTrue(benchlib.valid_name(ok), ok)
        for bad in ["", "a b", ".a", "_a", "a/b", "x" * 65, "é"]:
            self.assertFalse(benchlib.valid_name(bad), bad)

    def test_benchmark_names_are_valid_and_unique(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(benchlib.valid_name(n), n)

    def test_computed_metrics_match_benchmark_json(self):
        raw = {"samples": {"op_ms": [1.0, 2.0, 3.0], "setup_s": [1.0]},
               "scalars": {"heap_peak_mb": 10.0}, "spans": []}
        self.assertEqual(set(benchlib.end_to_end(raw)),
                         {m["name"] for m in SPEC["end_to_end"]})
        for workload, op in benchlib.OP_SPAN.items():
            raw["spans"] = [span(1, 0, 0, 10, op, jobs=1)]
            raw["spans"][0]["counts"] = {f: 1 for f, _, _ in benchlib.SPARK_COUNTS.values()}
            layers = benchlib.per_layer(raw, workload)
            for m in SPEC["per_layer"]:
                self.assertIn(m["name"], layers, workload)
                self.assertEqual(layers[m["name"]][1], m["unit"], m["name"])


class Metrics(unittest.TestCase):
    def test_end_to_end_from_raw(self):
        raw = {"samples": {"op_ms": [float(i) for i in range(1, 101)], "rate": [2.0, 4.0, 3.0],
                           "setup_s": [5.0, 1.0, 2.0]},
               "scalars": {"heap_peak_mb": 12.5}, "spans": []}
        m = benchlib.end_to_end(raw)
        self.assertEqual(m["op_p50_ms"], 50.5)
        self.assertAlmostEqual(m["op_tail_ms"], 90.1)
        self.assertEqual(m["rate_per_s"], 3.0)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["heap_peak_mb"], 12.5)
        self.assertIsNone(m["secondary_p50_s"])

    def test_layer_differences_and_counts(self):
        c = {"jobs": 4, "stages": 5, "tasks": 9, "executor_run_ms": 1500, "executor_cpu_ns": 2e9,
             "input_bytes": 0, "shuffle_read_bytes": 1e6, "shuffle_write_bytes": 3e6,
             "spill_bytes": 0, "gc_ms": 20}
        spans = [span(1, 0, 0, 300, "hprof.header_walk"),
                 span(2, 0, 400, 1400, "convert.rep"),
                 span(3, 2, 400, 900, "heapdump.construct"),
                 span(4, 2, 900, 1400, "heapdump.export")]
        spans[1]["counts"] = c
        jobs = [[450, 650], [600, 800], [1300, 1500]]
        m = {n: v for n, (v, _) in benchlib.per_layer(
            {"samples": {}, "scalars": {}, "spans": spans, "jobs": jobs}, "convert").items()}
        self.assertAlmostEqual(m["spark.job_wall_s"], 0.45)
        self.assertAlmostEqual(m["graft.outside_jobs_s"], 0.55)
        self.assertAlmostEqual(m["heapdump.pass1_s"], 0.2)
        self.assertAlmostEqual(m["heapdump.export_s"], 0.5)
        self.assertEqual(m["spark.jobs"], 4)
        self.assertAlmostEqual(m["spark.executor_run_s"], 1.5)
        self.assertAlmostEqual(m["spark.executor_cpu_s"], 2.0)
        self.assertAlmostEqual(m["spark.shuffle_write_mb"], 3.0)
        # layers the run never called have no metric, rather than a 0
        self.assertNotIn("index.probe_s", m)
        self.assertNotIn("investigate.open_s", m)


if __name__ == "__main__":
    unittest.main()
