"""Self-test of the benchmark's aggregation code.

    python3 perfbench/test_stats.py
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def call(cid, name, layer, pass_, start, end, ok=True, rows=3, h="aa",
         rows_only=False, parent=None):
    return {"id": cid, "name": name, "layer": layer, "pass": pass_,
            "start": start, "end": end, "ok": ok, "rows": rows, "hash": h,
            "rows_only": rows_only, "parent": parent or f"p{pass_}"}


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        q1, med, q3 = stats.quartiles(vals)
        self.assertEqual([q1, med, q3], statistics.quantiles(vals, n=4))
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / 5.5)

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.0]), (2.0, 2.0, 2.0))
        self.assertEqual(stats.spread([2.0]), 0.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
                {"start": 9.0, "end": 12.0}, {"start": 20.0, "end": 30.0}]
        # covered: [1,4] and [9,10] -> 4; self = 10 - 4
        self.assertEqual(stats.self_time(span, kids), 6.0)

    def test_no_children(self):
        self.assertEqual(stats.self_time({"start": 2, "end": 5}, []), 3)

    def test_nested_children_count_once(self):
        self.assertEqual(stats.covered([(0, 10), (2, 3), (4, 5)], 0, 10), 10)


class Attribution(unittest.TestCase):
    def test_window_and_group_tie_break(self):
        calls = [call("p0.c0", "a", "etl", 0, 100.2, 150.6),
                 call("p0.c1", "b", "etl", 0, 150.7, 200.0)]
        jobs = [{"start": 120, "group": "p0.c0"},
                {"start": 150, "group": "p0.c1"},   # shared ms boundary
                {"start": 150, "group": "graft-pool"},
                {"start": 100, "group": None},      # start ms floored
                {"start": 500, "group": None}]
        stats.attribute_jobs(jobs, calls)
        self.assertEqual([j["parent"] for j in jobs],
                         ["p0.c0", "p0.c1", "p0.c0", "p0.c0", "run"])


class HashCompare(unittest.TestCase):
    REF = {"a": {"rows": 3, "hash": "aa", "rows_only": False},
           "fit": {"rows": 3, "hash": "xx", "rows_only": True}}

    def test_match_and_rows_only(self):
        cs = [call("p0.c0", "a", "etl", 0, 0, 1),
              call("p0.c1", "fit", "ml", 0, 1, 2, h="other")]
        self.assertEqual(stats.check_calls(cs, self.REF), [])
        self.assertTrue(all(c["verified"] for c in cs))

    def test_mismatches(self):
        cs = [call("p0.c0", "a", "etl", 0, 0, 1, h="bb"),
              call("p0.c1", "a", "etl", 0, 1, 2, rows=4),
              call("p0.c2", "fit", "ml", 0, 2, 3, rows=2),
              call("p0.c3", "a", "etl", 0, 3, 4, ok=False),
              call("p0.c4", "new", "etl", 0, 4, 5)]
        fails = stats.check_calls(cs, self.REF)
        self.assertEqual(len(fails), 5)
        self.assertFalse(any(c["verified"] for c in cs))


class Metrics(unittest.TestCase):
    # reruns 1 and 2 are warm-up; 3, 4 and 5 count
    PASSES = [(0, 0, 4000), (1, 4000, 6000), (2, 6000, 7500),
              (3, 7500, 8500), (4, 8500, 9300), (5, 9300, 9900)]

    def run_fixture(self):
        passes = [{"id": f"p{i}", "pass": i, "start": a, "end": b}
                  for i, a, b in self.PASSES]
        calls = [call("p0.c0", "a", "etl", 0, 0, 3000),
                 call("p0.c1", "q", "ann", 0, 3000, 4000, ok=False)]
        for i, a, b in self.PASSES[1:]:
            mid = a + (b - a) * 0.6
            calls += [call(f"p{i}.c0", "a", "etl", i, a, mid),
                      call(f"p{i}.c1", "q", "ann", i, mid, b, h="zz")]
        ref = {"a": {"rows": 3, "hash": "aa", "rows_only": False},
               "q": {"rows": 3, "hash": "zz", "rows_only": False}}
        fails = stats.check_calls(calls, ref)
        meta = {"cores": 4, "cache_bytes": 2_500_000, "gc_ms": 1500}
        return passes, calls, fails, meta

    def test_end_to_end(self):
        passes, calls, fails, meta = self.run_fixture()
        self.assertEqual([f["call"] for f in fails], ["q"])
        e2e = stats.end_to_end([3.0, 1.0, 2.0], passes, calls, meta)
        self.assertEqual(e2e["setup_s"], (2.0, "s"))
        self.assertEqual(e2e["wall_s"], (3.0, "s"))    # failed call left out
        self.assertEqual(e2e["rerun_s"], (0.8, "s"))   # of 1.0, 0.8, 0.6
        self.assertEqual(e2e["cache_mb"], (2.5, "MB"))

    def test_per_layer(self):
        passes, calls, _, meta = self.run_fixture()
        jobs = [{"id": "j0", "start": 1000, "end": 2000, "group": "p0.c0",
                 "tasks": 8, "run_ms": 6000, "shuffle_bytes": 3_000_000,
                 "spill_bytes": 0, "max_task_ms": 900},
                {"id": "j1", "start": 1500, "end": 2500, "group": "p0.c0",
                 "tasks": 2, "run_ms": 1200, "shuffle_bytes": 0,
                 "spill_bytes": 1_000_000, "max_task_ms": 1100}]
        stats.attribute_jobs(jobs, calls)
        plans = [{"start": 6100, "plan_ms": 999},   # warm-up pass: ignored
                 {"start": 7600, "plan_ms": 100},
                 {"start": 8600, "plan_ms": 40},
                 {"start": 8700, "plan_ms": 60},
                 {"start": 9350, "plan_ms": 70}]
        m = stats.per_layer(passes, calls, jobs, plans, meta)
        v = {k: x for k, (x, _) in m.items()}
        self.assertEqual(len(m), len(stats.LAYERS) * len(stats.LAYER_METRICS)
                         + 3)
        self.assertEqual(v["etl.cold_s"], 3.0)
        self.assertAlmostEqual(v["etl.rerun_s"], 0.48)   # 0.6 of 0.8 s
        self.assertEqual(v["etl.self_s"], 1.5)     # 3 s minus jobs [1, 2.5]
        self.assertEqual(v["etl.plan_s"], 0.1)     # of 0.1, 0.1, 0.07
        self.assertEqual(v["etl.jobs"], 2)
        self.assertEqual(v["etl.tasks"], 10)
        self.assertEqual(v["etl.shuffle_mb"], 3.0)
        self.assertEqual(v["etl.spill_mb"], 1.0)
        self.assertAlmostEqual(v["etl.busy_ratio"], 7200 / (3000 * 4))
        self.assertEqual(v["etl.max_task_s"], 1.1)
        self.assertEqual(v["ann.cold_s"], 0.0)     # its cold call failed
        self.assertAlmostEqual(v["ann.rerun_s"], 0.32)
        self.assertEqual(v["ml.jobs"], 0)
        self.assertEqual(v["jvm.gc_s"], 1.5)
        self.assertEqual(v["trace.wall_s"], 3.0)
        self.assertEqual(v["trace.rerun_s"], 0.8)

    def test_call_costs(self):
        passes, calls, _, meta = self.run_fixture()
        jobs = [{"id": "j0", "start": 1000, "end": 2000, "group": "p0.c0",
                 "tasks": 8, "run_ms": 6000, "shuffle_bytes": 0,
                 "spill_bytes": 0, "max_task_ms": 900}]
        stats.attribute_jobs(jobs, calls)
        cost = stats.call_costs(calls, jobs, meta["cores"])
        self.assertEqual(sorted(cost), ["p0.c0", "p0.c1"])   # cold pass only
        self.assertEqual(cost["p0.c0"]["jobs"], 1)
        self.assertEqual(cost["p0.c0"]["self_s"], 2.0)
        self.assertEqual(cost["p0.c0"]["busy_ratio"], 0.5)
        self.assertEqual(cost["p0.c1"]["jobs"], 0)


class Overhead(unittest.TestCase):
    def test_paired_by_seed(self):
        untraced = {1: {"wall_s": 10.0, "rerun_s": 2.0},
                    2: {"wall_s": 12.0, "rerun_s": 2.0},
                    3: {"wall_s": 11.0, "rerun_s": 1.0}}
        traced = {2: {"wall_s": 12.5, "rerun_s": 2.1},
                  3: {"wall_s": 12.0, "rerun_s": 1.3},
                  4: {"wall_s": 99.0, "rerun_s": 9.0}}
        o = stats.overhead(untraced, traced)
        self.assertEqual(o["wall_s"]["seeds"], [2, 3])
        self.assertAlmostEqual(o["wall_s"]["median_s"], 0.75)
        self.assertAlmostEqual(o["rerun_s"]["median_s"], 0.2)

    def test_no_common_seed(self):
        self.assertEqual(stats.overhead({1: {}}, {2: {}}), {})


if __name__ == "__main__":
    unittest.main()
