"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import benchlib
import run

BENCH = Path(__file__).resolve().parent


class TailRule(unittest.TestCase):
    def test_hundred_samples_give_p90_with_ten_beyond(self):
        self.assertEqual(benchlib.tail(range(1, 101)), (90, 90, 10))

    def test_highest_percentile_keeps_ten_beyond(self):
        pct, value, beyond = benchlib.tail(range(1, 1001))
        self.assertEqual((pct, value, beyond), (99, 990, 10))
        pct, value, beyond = benchlib.tail(range(1, 51))
        self.assertEqual((pct, value, beyond), (80, 40, 10))

    def test_unsorted_input(self):
        self.assertEqual(benchlib.tail(list(range(100, 0, -1))), (90, 90, 10))

    def test_too_few_samples_have_no_tail(self):
        self.assertEqual(benchlib.tail(range(40)), (75, 29, 10))
        self.assertIsNone(benchlib.tail(range(39)))
        self.assertIsNone(benchlib.tail([]))


class IntervalUnion(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(benchlib.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_unsorted_and_empty(self):
        self.assertEqual(benchlib.union_length([(20, 25), (0, 5)]), 10)
        self.assertEqual(benchlib.union_length([]), 0)
        self.assertEqual(benchlib.union_length([(5, 5)]), 0)

    def test_clipped_to_a_window(self):
        spans = [(0, 10), (8, 30), (40, 50)]
        self.assertEqual(benchlib.union_length(spans, lo=5, hi=45), 30)
        self.assertEqual(benchlib.union_length(spans, lo=31, hi=39), 0)


def query(name, start, build_end, plan_end, end):
    return {"name": name, "start_ms": start, "build_end_ms": build_end,
            "plan_end_ms": plan_end, "end_ms": end, "ok": True}


class JobAttribution(unittest.TestCase):
    QUERIES = [query("a", 100, 150, 160, 200), query("b", 200, 220, 230, 300)]

    def test_jobs_land_in_the_window_and_phase_they_started_in(self):
        jobs = [{"id": 1, "start_ms": 120}, {"id": 2, "start_ms": 155},
                {"id": 3, "start_ms": 170}, {"id": 4, "start_ms": 225},
                {"id": 5, "start_ms": 299}]
        self.assertEqual(benchlib.attribute(jobs, self.QUERIES), {
            1: ("a", "build"), 2: ("a", "plan"), 3: ("a", "exec"),
            4: ("b", "plan"), 5: ("b", "exec")})

    def test_helper_thread_jobs_that_outlive_the_phase_stay_with_their_query(self):
        # a future started during the build and ending in exec belongs to
        # the build of the query that waited for it
        jobs = [{"id": 7, "start_ms": 140, "end_ms": 190}]
        self.assertEqual(benchlib.attribute(jobs, self.QUERIES), {7: ("a", "build")})

    def test_jobs_outside_every_window(self):
        jobs = [{"id": 1, "start_ms": 50}, {"id": 2, "start_ms": 301}]
        self.assertEqual(benchlib.attribute(jobs, self.QUERIES),
                         {1: (None, None), 2: (None, None)})

    def test_driver_only_share_by_group(self):
        jobs = [{"id": 1, "start_ms": 120, "end_ms": 140},
                {"id": 2, "start_ms": 130, "end_ms": 180},
                {"id": 3, "start_ms": 250, "end_ms": 400}]
        shares = benchlib.driver_only_by_group(self.QUERIES, jobs, lambda n: "g" + n)
        # a: window 100, busy 120..180 = 60; b: window 100, busy clipped 250..300 = 50
        self.assertEqual(shares, {"ga": (0.1, 0.4), "gb": (0.1, 0.5)})


class FailureCounting(unittest.TestCase):
    EXPECTED = {"a": {"rows": 3, "digest": "00ff"}, "b": {"rows": 1, "digest": None},
                "c": {"rows": 2}, "d": {"rows": 5}}

    def test_each_kind_of_failure_counts_once(self):
        records = [
            {"name": "a", "ok": True, "rows": 3, "digest": "0000"},
            {"name": "b", "ok": False, "error": "boom", "timed_out": True},
            {"name": "c", "ok": True, "rows": 9},
        ]
        names = ["a", "b", "c", "d"]
        untraced = benchlib.failures(names, records, self.EXPECTED, check_digest=False)
        self.assertEqual(set(untraced), {"b", "c", "d"})
        self.assertEqual(untraced["d"], "no record")
        traced = benchlib.failures(names, records, self.EXPECTED, check_digest=True)
        self.assertEqual(set(traced), {"a", "b", "c", "d"})

    def test_unstable_digest_is_not_checked(self):
        records = [{"name": "b", "ok": True, "rows": 1, "digest": "1234"}]
        self.assertEqual(benchlib.failures(["b"], records, self.EXPECTED, True), {})

    def test_query_without_expectation_fails(self):
        records = [{"name": "z", "ok": True, "rows": 1}]
        self.assertEqual(benchlib.failures(["z"], records, self.EXPECTED, False),
                         {"z": "no expected row count"})


class Selection(unittest.TestCase):
    WL = {"queries": [["a", 4.0, "t"], ["b", 3.0, "t"], ["c", 5.0, "t"], ["d", 1.0, "t"]]}

    def test_head_that_fits(self):
        self.assertEqual(benchlib.select(self.WL, 8), ["a", "b"])
        self.assertEqual(benchlib.select(self.WL, 12), ["a", "b", "c"])

    def test_at_least_one_query(self):
        self.assertEqual(benchlib.select(self.WL, 1), ["a"])

    def test_committed_workloads_keep_their_families_at_the_run_length(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        workloads = json.loads((BENCH / "workloads.json").read_text())
        expected = json.loads((BENCH / "expected.json").read_text())
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(workloads))
        for name, wl in workloads.items():
            picked = benchlib.select(wl, spec["run_seconds"] / run.PASSES)
            tiers = {n: t for n, _, t in wl["queries"]}
            fams = {benchlib.family(n, tiers[n]) for n in picked}
            fams |= {"stream:" + tiers[n] for n in picked if n.startswith("stream_")}
            self.assertTrue(set(wl["families"]) <= fams, (name, fams))
            self.assertTrue(all("rows" in expected[n] for n, _, _ in wl["queries"]), name)


class EndToEnd(unittest.TestCase):
    def test_each_metric_is_the_median_over_passes(self):
        def region(wall, cpu, kb):
            return {"wall_s": wall, "cpu_s": cpu, "vmhwm_kb": kb}

        def runs(*times):
            return [{"name": f"q{i}", "ok": True, "wall_s": t} for i, t in enumerate(times)]
        passes = [(10.0, runs(1, 2), region(3.0, 9.0, 2048)),
                  (30.0, runs(5, 6), region(11.0, 1.0, 1024)),
                  (11.0, runs(3, 4), region(7.0, 5.0, 4096))]
        m, qtail = benchlib.end_to_end(passes)
        self.assertEqual(m, {"setup_s": 11.0, "wall_s": 7.0, "query_p50_s": 3.5,
                             "cpu_s": 5.0, "rss_peak_mb": 2.0})
        self.assertIsNone(qtail)

    def test_failed_query_runs_have_no_time(self):
        passes = [(1.0, [{"name": "a", "ok": False}, {"name": "b", "ok": True, "wall_s": 2.0}],
                   {"wall_s": 2.0, "cpu_s": 1.0, "vmhwm_kb": 1024})]
        self.assertEqual(benchlib.end_to_end(passes)[0]["query_p50_s"], 2.0)


class MetricSets(unittest.TestCase):
    def test_printed_metrics_are_the_declared_ones(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         benchlib.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         benchlib.PER_LAYER_UNITS)

    def test_per_layer_computes_every_declared_metric(self):
        q = dict(query("a", 0, 10, 20, 100), wall_s=0.1, build_s=0.01,
                 plan_s=0.01, exec_s=0.08, rows=1)
        region = {"wall_s": 0.1, "cpu_s": 0.3, "gc_s": 0.0, "wchar": 0,
                  "syscw": 0, "rchar": 0, "vmhwm_kb": 1024}
        job = {"id": 0, "start_ms": 30, "end_ms": 90, "stages": 1, "tasks": 2,
               "cpu_ns": 10**8, "run_ms": 100, "gc_ms": 0, "input_b": 0,
               "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0}
        m = benchlib.per_layer([q], region, [job], [], {"a": "ops"}, 0.09)
        self.assertEqual(set(m), set(benchlib.PER_LAYER_UNITS))
        self.assertEqual(m["spark.jobs_in_exec"], 1)
        self.assertAlmostEqual(m["spark.job_busy_s"], 0.06)
        self.assertAlmostEqual(m["jvm.driver_cpu_s"], 0.2)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.01)


class Families(unittest.TestCase):
    def test_first_rule_wins(self):
        self.assertEqual(benchlib.family("dedup_cc", "ops"), "ops.graph_s")
        self.assertEqual(benchlib.family("dedup_minhash", "ops"), "ops.dedup_s")
        self.assertEqual(benchlib.family("stream_delta_cdf", "lake"), "lake.delta_s")
        self.assertEqual(benchlib.family("meta_orc_stripe", "meta"), "meta.orc_s")
        self.assertEqual(benchlib.family("orc_bloom_skip", "meta"), "meta.bloom_s")
        self.assertEqual(benchlib.family("meta_page_level", "meta"), "meta.parquet_s")
        self.assertIsNone(benchlib.family("q1_agg", "ops"))


if __name__ == "__main__":
    unittest.main()
