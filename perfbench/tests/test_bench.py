"""Tests of the benchmark's own logic; no JVM needed.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from bench import opstream, report, stats  # noqa: E402
import compare  # noqa: E402


class OpStreamTest(unittest.TestCase):
    def test_same_seed_same_stream(self):
        for w in opstream.GENERATORS:
            a = json.dumps(opstream.generate(w, 7), sort_keys=True)
            b = json.dumps(opstream.generate(w, 7), sort_keys=True)
            self.assertEqual(a, b, w)

    def test_other_seed_other_stream(self):
        for w in opstream.GENERATORS:
            a = opstream.generate(w, 7)["ops"] if w != "serving" else \
                opstream.generate(w, 7)["clients"]
            b = opstream.generate(w, 8)["ops"] if w != "serving" else \
                opstream.generate(w, 8)["clients"]
            self.assertNotEqual(a, b, w)

    def test_warmup_ids_disjoint_from_measured_ids(self):
        # the traced run attributes Spark work by op id; checks take ids
        # at or above 1e9 (Workloads.CheckIds and the analytics checks)
        for w in opstream.GENERATORS:
            for seed in (1, 2):
                s = opstream.generate(w, seed)
                streams = s["clients"] if w == "serving" else [s["ops"]]
                measured = {o["id"] for ops in streams for o in ops}
                measured |= {c["id"] for c in s.get("checks", [])}
                measured |= {1_000_000_000 + i for i in measured}
                warm = s["warmup"] if w != "analytics" else []
                if w == "serving":
                    warm = [o for ops in warm for o in ops]
                warm_ids = {o["id"] for o in warm if "id" in o}
                self.assertFalse(warm_ids & measured, w)
                self.assertTrue(all(i < 0 for i in warm_ids), w)
                self.assertTrue(all(i >= 0 for i in measured), w)

    def test_checks_differ_only_in_table_names(self):
        for c in opstream.generate("analytics", 3)["checks"]:
            self.assertEqual(c["sql"], c["raw_sql"].replace("raw_", ""))

    def test_template_mix_is_fixed(self):
        kinds = lambda s: [o["kind"] for o in opstream.generate("analytics", s)["ops"][:40]]
        self.assertEqual(kinds(1), kinds(2))

    def test_ingest_expectations_follow_the_model(self):
        s = opstream.generate("ingest", 5)
        last = s["ops"][0]["expect_sql"]
        # the first measured cycle appends: counts grow by its rows
        self.assertEqual(s["ops"][0]["kind"], "append")
        warm = s["warmup"][-1]["expect_sql"]
        grown = sum(int(n) for _, _, n in last) - sum(int(n) for _, _, n in warm)
        self.assertEqual(grown, s["ops"][0]["rows"])


class StatsTest(unittest.TestCase):
    def test_tail_has_ten_beyond(self):
        pct, v = stats.tail(list(range(1, 101)))
        self.assertEqual(v, 90)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_tail_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11))), (100.0 / 11, 0))
        self.assertEqual(stats.tail_value([3.0, 1.0]), 3.0)

    def test_tail_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 5 + [2.0] * 15
        pct, v = stats.tail(xs)
        self.assertEqual(v, 1.0)
        self.assertEqual(pct, 25.0)

    def test_union_of_stage_intervals(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_gap(self):
        stages = [(10, 40), (30, 60), (90, 120)]
        # union inside the op window [0, 100] is 50 + 10; planning 15
        self.assertEqual(stats.driver_gap(100, 0, stages, 15), 25)
        self.assertEqual(stats.driver_gap(10, 0, [(0, 10)], 5), 0)

    def test_self_times(self):
        spans = {"root": (None, 0, 100), "a": ("root", 10, 50), "b": ("root", 40, 60),
                 "c": ("a", 20, 30), "late": ("b", 55, 80)}
        st = stats.self_times(spans)
        self.assertEqual(st["root"], 50)  # children cover [10, 60]
        self.assertEqual(st["a"], 30)
        self.assertEqual(st["b"], 15)  # child clipped to [55, 60]
        self.assertEqual(st["c"], 10)
        self.assertEqual(st["late"], 25)


class ReportTest(unittest.TestCase):
    def test_span_tree_parents(self):
        op = {"id": 1, "kind": "append", "start": 0.0, "end": 100.0}
        harness = [{"op": 1, "layer": "matview", "name": "refresh.full", "start": 10.0, "end": 60.0}]
        ev = {"execs": [{"id": 5, "start": 20, "end": 50}],
              "phases": [{"name": "analysis", "start": 12, "end": 18}],
              "jobs": [{"id": 3, "start": 22, "end": 48, "exec": "5"}],
              "stages": [{"id": 9, "submit": 25, "complete": 45, "job": 3}]}
        t = report.span_tree(op, "driver", harness, ev)
        by_name = {v["name"]: (k, v) for k, v in t.items()}
        refresh = by_name["refresh.full"][0]
        self.assertEqual(by_name["refresh.full"][1]["parent"], 0)
        self.assertEqual(by_name["execution"][1]["parent"], refresh)
        self.assertEqual(by_name["analysis"][1]["parent"], refresh)
        self.assertEqual(by_name["job"][1]["parent"], by_name["execution"][0])
        self.assertEqual(by_name["stage"][1]["parent"], by_name["job"][0])

    def test_span_tree_clips_to_parent(self):
        op = {"id": 1, "kind": "read", "start": 0.0, "end": 100.0}
        ev = {"execs": [{"id": 5, "start": 20, "end": 130}], "phases": [],
              "jobs": [{"id": 3, "start": 90, "end": 120, "exec": "5"}], "stages": []}
        t = report.span_tree(op, "jdbc", [], ev)
        by_name = {v["name"]: v for v in t.values()}
        self.assertEqual((by_name["execution"]["start"], by_name["execution"]["end"]), (20, 100))
        self.assertEqual((by_name["job"]["start"], by_name["job"]["end"]), (90, 100))

    def test_benchmark_json_lists_every_metric(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, report.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, report.PER_LAYER)
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(opstream.GENERATORS))


class CompareTest(unittest.TestCase):
    def test_improved_needs_nine_of_ten_and_iqr(self):
        parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        change = [90, 91, 89, 90, 92, 88, 90, 91, 89, 101]
        self.assertEqual(compare.judge(parent, change, "lower", 0.1), "improved")
        change[8] = 100  # two losses out of ten
        self.assertNotEqual(compare.judge(parent, change, "lower", 0.1), "improved")

    def test_regressed_beyond_bound(self):
        parent = [100.0] * 10
        self.assertEqual(compare.judge(parent, [120.0] * 10, "lower", 0.1), "regressed")
        self.assertEqual(compare.judge(parent, [80.0] * 10, "higher", 0.1), "regressed")
        self.assertEqual(compare.judge(parent, [105.0] * 10, "lower", 0.1), "unchanged")

    def test_run_with_failed_ops_still_counts(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "perfbench"))
            with open(os.path.join(d, "perfbench", "run.py"), "w") as f:
                f.write('import json, sys\n'
                        'print(json.dumps({"correct": False, "attempted": 5, "failed": 2,'
                        ' "metrics": {}}))\nsys.exit(1)\n')
            self.assertEqual(compare.run_once(d, "serving", 1, 1)["failed"], 2)
            with open(os.path.join(d, "perfbench", "run.py"), "w") as f:
                f.write('import sys\nsys.exit(3)\n')
            with self.assertRaises(SystemExit):
                compare.run_once(d, "serving", 1, 1)

    def test_unresolved_when_spread_exceeds_bound(self):
        parent = [60, 140, 80, 120, 100, 70, 130, 90, 110, 100]
        change = [100, 100, 100, 100, 100, 100, 100, 100, 100, 100]
        self.assertEqual(compare.judge(parent, change, "lower", 0.1), "unresolved")


if __name__ == "__main__":
    unittest.main()
