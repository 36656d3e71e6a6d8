"""Self-tests of the benchmark harness (no engine needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import bisect
import os
import tempfile
import unittest

import datacompare
import datagen
import stats
import workloads


class Data:
    """Small generated tables shared by the plan tests."""
    _dir = None

    @classmethod
    def dir(cls):
        if cls._dir is None:
            cls._tmp = tempfile.TemporaryDirectory()
            cls._dir = cls._tmp.name
            datagen.write(cls._dir, scale=0.01, seed=7)
        return cls._dir


def ids(plan):
    return [s["id"] + "|" + s["text"] for s in plan["statements"]]


class PlanTest(unittest.TestCase):

    def test_same_seed_same_plan(self):
        for name in workloads.WORKLOADS:
            a = workloads.plan(name, 11, Data.dir())
            b = workloads.plan(name, 11, Data.dir())
            self.assertEqual(a, b, name)

    def test_other_seed_other_plan(self):
        for name in workloads.WORKLOADS:
            a = workloads.plan(name, 11, Data.dir())
            b = workloads.plan(name, 12, Data.dir())
            self.assertNotEqual((ids(a), a["passes"]), (ids(b), b["passes"]), name)

    def test_interactive_mix_is_fixed_and_stratified(self):
        a = workloads.plan("interactive", 1, Data.dir())
        b = workloads.plan("interactive", 2, Data.dir())
        self.assertEqual(ids(a), ids(b))
        self.assertNotEqual(a["passes"][0], b["passes"][0])
        pool = workloads.battery_pool()
        key_of = {f"shapes.tsv:{v[0]}": k
                  for k, v in workloads.read_shapes(workloads.DEFAULT_SHAPES).items()}
        picked = [key_of[s["id"]] for s in a["statements"]
                  if s["id"].startswith("shapes.tsv:") and not s.get("probe")]
        rank = {key: i for i, key in enumerate(pool)}
        k = workloads.N_BATTERY
        bounds = [i * len(pool) // k for i in range(k + 1)]
        strata = [bisect.bisect_right(bounds, rank[n]) - 1 for n in picked]
        self.assertEqual(sorted(strata), list(range(workloads.N_BATTERY)))

    def test_passes_cover_every_statement_once(self):
        for name in ("interactive", "pipelines"):
            p = workloads.plan(name, 3, Data.dir())
            n = len(p["statements"]) - len(p.get("probes", []))
            for ps in p["warm"] + p["passes"][:5]:
                self.assertEqual(sorted(ps["stmts"]), list(range(n)))

    def test_battery_comes_from_shapes_tsv(self):
        p = workloads.plan("interactive", 1, Data.dir())
        self.assertEqual(p["missing"], [])
        battery = workloads.read_shapes(workloads.DEFAULT_SHAPES)
        for key in workloads.battery_pool() + workloads.known_defects():
            self.assertIn(key, battery)
        by_line = {v[0]: v for v in battery.values()}
        for st in p["statements"]:
            if st["id"].startswith("shapes.tsv:"):
                _, rows, cols, sql = by_line[int(st["id"].split(":")[1])]
                self.assertEqual((st["text"], st["shape"]), (sql, [rows, cols]))

    def test_known_defects_are_probed_not_timed(self):
        p = workloads.plan("interactive", 1, Data.dir())
        self.assertEqual(len(p["probes"]), len(workloads.known_defects()))
        self.assertTrue(all(p["statements"][i].get("probe") for i in p["probes"]))
        timed = {i for ps in p["warm"] + p["passes"] for i in ps["stmts"]}
        self.assertFalse(timed & set(p["probes"]))

    def test_ingest_rounds_reach_the_p90_sample_floor(self):
        p = workloads.plan("ingest", 5, Data.dir())
        self.assertEqual(p["min_timed"], 100)
        self.assertTrue(all(len(ps["stmts"]) == 12 for ps in p["passes"]))

    def test_ingest_expectations_follow_the_writes(self):
        p = workloads.plan("ingest", 5, Data.dir())
        first = p["passes"][0]
        w = first["write"]
        stats_stmt = [p["statements"][i] for i in first["stmts"]
                      if p["statements"][i]["id"].endswith(".file_stats")][0]
        self.assertEqual(stats_stmt["expect"][0][0], str(w["size"]))
        window = [p["statements"][i] for i in first["stmts"]
                  if p["statements"][i]["id"].endswith(".all_days")][0]
        self.assertEqual(window["expect"][0][1], str(workloads.WINDOW_DAYS))

    def test_data_is_deterministic(self):
        a = datagen.tables(scale=0.001, seed=3)
        b = datagen.tables(scale=0.001, seed=3)
        c = datagen.tables(scale=0.001, seed=4)
        self.assertTrue(all(a[t].equals(b[t]) for t in datagen.TABLES))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    @unittest.skipUnless(os.environ.get("PERFBENCH_REFERENCE_DATA"),
                         "set PERFBENCH_REFERENCE_DATA to a reference sf0.1 directory")
    def test_layout_matches_reference_tables(self):
        with tempfile.TemporaryDirectory() as d:
            datagen.write(d, scale=0.1, seed=42)
            self.assertEqual(datacompare.compare(d, os.environ["PERFBENCH_REFERENCE_DATA"]), 0)


class PercentileTest(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([5.0], 90), 5.0)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.highest_tail_percentile(100), 90)
        self.assertEqual(stats.highest_tail_percentile(99), 75)
        self.assertEqual(stats.highest_tail_percentile(200), 95)
        self.assertEqual(stats.highest_tail_percentile(1000), 99)
        self.assertEqual(stats.highest_tail_percentile(20), 50)
        self.assertIsNone(stats.highest_tail_percentile(19))


class SelfTimeTest(unittest.TestCase):

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([(0, 1)], 2, 4), 0)

    def test_layers_add_up_to_the_statement(self):
        rec = {
            "spans": [["graftsql.rewrite", -3, -2], ["graft.build", 0, 10],
                      ["optimizer.optimize", 10, 14], ["planner.plan", 14, 16],
                      ["exec.run", 16, 40], ["result.fetch", 40, 41],
                      ["statement", 0, 42]],
            "jobs_spans": [[2, 4], [18, 30], [25, 35]],
            "analysis_ms": 3,
        }
        s = stats.self_times(rec)
        self.assertEqual(s["graftsql.rewrite"], 1)
        self.assertEqual(s["exec.jobs"], 2 + 17)
        self.assertEqual(s["exec.run"], 24 - 17)
        self.assertEqual(s["graft.analysis"], 3)
        self.assertEqual(s["graft.build"], 10 - 2 - 3 - 1)
        self.assertEqual(s["statement"], 1)
        self.assertEqual(sum(s.values()), 42)


if __name__ == "__main__":
    unittest.main()
