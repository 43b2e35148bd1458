"""Unit tests of the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import re
import tempfile
import unittest
from pathlib import Path

import duckdb

import oracle
import stats

BENCH = Path(__file__).resolve().parent


class PercentileRule(unittest.TestCase):
    def test_tail_has_ten_samples_beyond_it(self):
        vals = list(range(1, 1001))  # 1..1000
        med, tail, pct, n = stats.percentile_rule(vals)
        self.assertEqual(med, 500.5)
        self.assertEqual(n, 1000)
        self.assertAlmostEqual(pct, 99.0)
        self.assertEqual(tail, 990)
        self.assertEqual(sum(v > tail for v in vals), 10)

    def test_order_does_not_matter(self):
        vals = [5, 1, 4, 2, 3] * 10
        self.assertEqual(stats.percentile_rule(vals),
                         stats.percentile_rule(sorted(vals)))

    def test_fractional_percentile_for_small_counts(self):
        vals = list(range(1, 41))  # 40 samples: rank 30 -> p75
        med, tail, pct, _ = stats.percentile_rule(vals)
        self.assertEqual((med, tail, pct), (20.5, 30, 75.0))

    def test_too_few_samples_fall_back_to_the_median(self):
        for vals in ([7.0], list(range(10)), list(range(20))):
            med, tail, pct, _ = stats.percentile_rule(vals)
            self.assertEqual(tail, med)
            self.assertEqual(pct, 50.0)

    def test_empty(self):
        self.assertEqual(stats.percentile_rule([]), (0.0, 0.0, 0.0, 0))


def span(i, parent, s, e, name="x"):
    return {"id": i, "parent": parent, "name": name, "start_ms": s,
            "end_ms": e, "attrs": {}}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 1, 80, 90)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 50 - 10)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, -20, 10), span(3, 1, 95, 130)]
        self.assertEqual(stats.self_times(spans)[1], 85)

    def test_only_direct_children_subtract(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 50)]
        selfs = stats.self_times(spans)
        self.assertEqual((selfs[1], selfs[2], selfs[3]), (50, 0, 50))

    def test_no_job_time_sees_jobs_at_any_depth(self):
        spans = [span(1, 0, 0, 100, "q:a"), span(2, 1, 0, 30, "build"),
                 span(3, 1, 30, 100, "run"), span(4, 3, 40, 70, "job:count"),
                 span(5, 2, 10, 20, "job:other")]
        self.assertEqual(stats.no_job_time(spans, spans[0]), 100 - 30 - 10)

    def test_prefix_self_times(self):
        self.assertEqual(stats.prefix_self_times([1.0, 3.0, 3.5]),
                         [1.0, 2.0, 0.5])


class Oracle(unittest.TestCase):
    """oracle.check counts every execution it cannot confirm as failed."""

    def check(self, rows, sql):
        with tempfile.TemporaryDirectory() as d:
            (Path(d) / "region.parquet").mkdir()
            duckdb.sql("COPY (SELECT range AS r_regionkey FROM range(3)) TO "
                       f"'{d}/region.parquet/part-0.parquet' (FORMAT parquet)")
            return oracle.check({"tables_dir": d, "rows": rows, "oracle": sql})

    def test_wrong_count_fails_once_per_execution(self):
        fails = self.check({"q:q_a": [3, 2, 3]},
                           {"q:q_a": "SELECT * FROM region"})
        self.assertEqual(fails, [{"op": "q:q_a", "error": "2 rows, oracle 3"}])

    def test_rows_without_oracle_fail(self):
        fails = self.check({"q:q_a": [3, 3]}, {"q_a": "SELECT * FROM region"})
        self.assertEqual([f["error"] for f in fails], ["no oracle SQL"] * 2)

    def test_broken_oracle_fails(self):
        fails = self.check({"q:q_a": [3]}, {"q:q_a": "SELECT * FROM nope"})
        self.assertEqual(len(fails), 1)
        self.assertTrue(fails[0]["error"].startswith("oracle "))


class Declarations(unittest.TestCase):
    """BENCHMARK.json, layers.json and the code name the same things."""

    def setUp(self):
        self.layers = json.loads((BENCH / "layers.json").read_text())
        self.bench = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        self.per_layer = [m["name"] for m in self.bench["per_layer"]]

    def test_every_metric_has_a_layer(self):
        mapped = [n for g in self.layers["layers"] for n in g["moves"]]
        self.assertEqual(sorted(mapped), sorted(self.per_layer))
        self.assertEqual(list(self.layers["end_to_end"]),
                         [m["name"] for m in self.bench["end_to_end"]])
        workloads = {w["name"] for w in self.bench["workloads"]}
        for g in self.layers["layers"]:
            self.assertLessEqual(set(g["workloads"]), workloads, g["layer"])
        self.assertLessEqual(set(self.layers["slowest_candidates"]),
                             set(self.per_layer))

    def test_every_declared_metric_is_computed(self):
        raw = {"latency_ms": {"untraced": [1.0], "traced": [1.0]},
               "setup_s": [1.0], "work": {"untraced": 1, "traced": 1},
               "busy_s": {"untraced": 1, "traced": 1}, "peak_rss_mb": 1.0,
               "counters": {}, "spans": [], "traced_window_ms": [0, 1],
               "cores": 4, "progress": [], "samples": {}, "family": {}}
        self.assertEqual(list(stats.per_layer(raw, self.per_layer)),
                         self.per_layer)
        self.assertEqual(list(stats.end_to_end(raw)),
                         [m["name"] for m in self.bench["end_to_end"]])

    def test_heavy_queries_and_modules_are_in_the_mix(self):
        src = (BENCH / "src/main/scala/perfbench/AnalyticsMix.scala").read_text()
        mix = re.findall(r'"(\w+)" -> "(q_\w+)"', src[src.index("val Queries"):])
        heavy = {n[2:-2] for n in self.per_layer
                 if re.fullmatch(r"q\.q_\w+_s", n)}
        self.assertLessEqual(heavy, {q for _, q in mix})
        fams = {n[7:-2] for n in self.per_layer if n.startswith("family.")}
        self.assertEqual(fams, {m for m, _ in mix})


if __name__ == "__main__":
    unittest.main()
