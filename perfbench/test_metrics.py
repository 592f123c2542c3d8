"""Tests of the benchmark's own logic.

Run from the repository root: python3 -m unittest perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def query(name, rows, error=None, build=0.1, action=0.2):
    return {"name": name, "rows": rows, "error": error,
            "build_s": build, "action_s": action}


class PercentileTest(unittest.TestCase):
    def test_p90_of_100_samples_leaves_10_beyond(self):
        value, beyond = metrics.percentile(list(range(1, 101)), 0.9)
        self.assertEqual(value, 90)
        self.assertEqual(beyond, 10)

    def test_pooled_over_passes(self):
        passes = [[q / 100 for q in range(1, 51)],
                  [q / 100 for q in range(51, 101)]]
        pooled = [x for p in passes for x in p]
        value, beyond = metrics.percentile(pooled, 0.9)
        self.assertEqual((value, beyond), (0.9, 10))
        self.assertEqual(metrics.percentile(pooled, 0.5), (0.5, 50))

    def test_p80_of_50_samples_leaves_10_beyond(self):
        # The benchmark's sample floor: 50 latencies for its p80.
        self.assertEqual(metrics.percentile(list(range(1, 51)), 0.8), (40, 10))

    def test_too_few_samples_is_reported(self):
        # 50 samples leave only 5 beyond p90: the caller sees the shortfall.
        self.assertEqual(metrics.percentile(list(range(50)), 0.9)[1], 5)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 0.5), (3, 2))

    def test_empty(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)


class UnionTest(unittest.TestCase):
    def test_overlapping_jobs(self):
        jobs = [(0, 10), (5, 15), (20, 30), (25, 26)]
        self.assertEqual(metrics.union_length(jobs, 0, 100), 25)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)], 0, 50), 12)

    def test_clipped_to_the_pass(self):
        self.assertEqual(metrics.union_length([(-5, 5), (8, 20)], 0, 10), 7)

    def test_gap_plus_union_is_wall(self):
        p = {"wall_s": 2.0, "start_ms": 1000, "end_ms": 3000, "memo_s": 0.0,
             "compiles": 0, "queries": [query("q_a_x", 1)], "rdd_blocks": 0,
             "rdd_block_bytes": 0, "peak_cached_bytes": 0,
             "trace": {"jobs": [{"start_ms": 1100, "end_ms": 1600},
                                {"start_ms": 1500, "end_ms": 2000}],
                       "stages": [], "sql": []}}
        m = metrics.pass_layers(p, 4)
        self.assertAlmostEqual(m["sched.job_union_s"][0], 0.9)
        self.assertAlmostEqual(m["sched.driver_gap_s"][0], 1.1)
        self.assertAlmostEqual(m["sched.job_union_s"][0] +
                               m["sched.driver_gap_s"][0], p["wall_s"])


class EndToEndTest(unittest.TestCase):
    def test_cpu_leaves_out_the_jit_and_pools_latencies(self):
        def timed(wall, cpu, jit):
            return {"wall_s": wall, "cpu_s": cpu, "jit_cpu_s": jit,
                    "rdd_block_bytes": 2e6,
                    "queries": [query("q_a_x", 1, build=b / 100, action=0)
                                for b in range(1, 26)]}
        raw = {"jvm_start_ms": 0, "setup_end_ms": 30000}
        untraced = [timed(4.0, 9.0, 3.0), timed(5.0, 8.0, 1.0),
                    timed(6.0, 10.0, 2.5)]
        m, notes = metrics.end_to_end(raw, untraced)
        self.assertEqual(m["setup_s"], (30.0, "s"))
        self.assertEqual(m["pass_s"], (5.0, "s"))
        self.assertEqual(m["cpu_s"], (7.0, "s"))
        self.assertEqual(m["cached_mb"], (2.0, "MB"))
        # 75 pooled latencies, 0.01 to 0.25 s three times over.
        self.assertEqual(m["query_p50_s"], (0.13, "s"))
        self.assertEqual(m["query_p80_s"], (0.2, "s"))
        self.assertEqual(notes["latency_samples"], 75)
        self.assertEqual(notes["samples_beyond_p80"], 15)


class PlanTest(unittest.TestCase):
    QUERIES = ["q_graph_a", "q_graph_b", "q_graph_c", "q_text_a", "q_text_b",
               "q_text_c", "q_dedup_a", "q_dedup_b", "q_sim_a", "q_sim_b"]

    def families_in_order(self, steps):
        fams = [metrics.family(s[2:]) for s in steps if s.startswith("q ")]
        return [f for i, f in enumerate(fams) if i == 0 or fams[i - 1] != f]

    def test_families_stay_contiguous(self):
        w = {"memo": "family", "queries": self.QUERIES}
        for seed in range(10):
            for steps in metrics.plans(w, seed, 10):
                runs = self.families_in_order(steps)
                self.assertEqual(len(runs), len(set(runs)), seed)

    def test_same_seed_same_plans_and_every_plan_permutes(self):
        w = {"memo": "family", "queries": self.QUERIES}
        self.assertEqual(metrics.plans(w, 7, 5), metrics.plans(w, 7, 5))
        self.assertNotEqual(metrics.plans(w, 7, 5), metrics.plans(w, 8, 5))
        plans = metrics.plans(w, 7, 20)
        self.assertGreater(len({tuple(p) for p in plans}), 1)
        for p in plans:
            self.assertEqual(sorted(s for s in p if s.startswith("q ")),
                             sorted("q " + q for q in self.QUERIES))

    def test_graph_memo_before_family_and_reset_after(self):
        w = {"memo": "family", "queries": self.QUERIES}
        steps = metrics.plans(w, 3, 1)[0]
        first_graph = min(i for i, s in enumerate(steps) if s.startswith("q q_graph"))
        self.assertEqual(steps[first_graph - 1], "memo")
        self.assertEqual(steps.count("reset"), 4)
        self.assertEqual(steps[-1], "reset")

    def test_no_sharing_resets_after_every_query(self):
        w = {"memo": "none", "queries": ["q_agg_a", "q_agg_b", "q_join_a"]}
        steps = metrics.plans(w, 1, 1)[0]
        self.assertEqual(steps[1::2], ["reset"] * 3)
        self.assertNotIn("memo", steps)


class CountCheckTest(unittest.TestCase):
    def test_wrong_count_is_a_failure(self):
        passes = [{"index": 0, "queries": [query("q_a_x", 5), query("q_a_y", 7)]},
                  {"index": 1, "queries": [query("q_a_x", 5), query("q_a_y", 8)]}]
        attempted, failures = metrics.check_counts(passes, {"q_a_x": 5, "q_a_y": 7})
        self.assertEqual(attempted, 4)
        self.assertEqual(failures, [(1, "q_a_y", "rows 8, expected 7")])

    def test_error_and_missing_expectation_are_failures(self):
        passes = [{"index": 0, "queries": [query("q_a_x", None, error="boom"),
                                           query("q_a_z", 3)]}]
        attempted, failures = metrics.check_counts(passes, {"q_a_x": 5})
        self.assertEqual(attempted, 2)
        self.assertEqual([f[1] for f in failures], ["q_a_x", "q_a_z"])

    def test_all_right(self):
        passes = [{"index": 0, "queries": [query("q_a_x", 5)]}]
        self.assertEqual(metrics.check_counts(passes, {"q_a_x": 5}), (1, []))


if __name__ == "__main__":
    unittest.main()
