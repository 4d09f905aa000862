"""Fast tests: generator determinism, the percentile reducer, span self
times and the digest's canonical form. No JVM needed.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

CATALOG = {f"q{i:02d}_x": m for i, m in enumerate(["relational", "llm", "timeseries"] * 9)}
CATALOG.update({f"{q}_fixed": "llm" for q in gen.ALWAYS})
CATALOG.update({"q21_cp_unrefined": "timeseries", "q47_cp_multiseries": "relational"})
COSTS = {n: (i % 7) * 0.25 for i, n in enumerate(sorted(CATALOG))}


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            for run in ("a", "b"):
                gen.write_tables(7, 0.001, os.path.join(d, run))
                gen.emg_csv(7, 0, 500, os.path.join(d, run, "emg.csv"))
            for name in os.listdir(os.path.join(d, "a")):
                self.assertEqual(_sha(os.path.join(d, "a", name)),
                                 _sha(os.path.join(d, "b", name)), name)
            gen.write_tables(8, 0.001, os.path.join(d, "c"), events_only=True)
            self.assertNotEqual(_sha(os.path.join(d, "a", "events.parquet")),
                                _sha(os.path.join(d, "c", "events.parquet")))

    def test_same_seed_same_queries_and_draw(self):
        values = gen.events_table(3, 2000).column("value").to_numpy()
        texts = lambda s: [q["text"] for q in gen.cp_interactive_deck(s, values)]
        self.assertEqual(texts(3), texts(3))
        self.assertNotEqual(texts(3), texts(4))
        emg = gen.emg_csv(3, 0, 500, os.devnull)
        self.assertEqual(gen.cold_query(3, 0, emg, 500, 400)["text"],
                         gen.cold_query(3, 0, emg, 500, 400)["text"])
        self.assertEqual(gen.pipeline_draw(3, CATALOG, COSTS),
                         gen.pipeline_draw(3, CATALOG, COSTS))

    def test_deck_covers_every_mode_arity_and_engine(self):
        values = gen.events_table(5, 100000).column("value").to_numpy()
        deck = gen.cp_interactive_deck(5, values)
        self.assertEqual({q["mode"] for q in deck}, set(gen.MODES))
        self.assertEqual({len(q["constraints"]) for q in deck}, {1, 2, 3})
        self.assertEqual(sum(q["kind"] == "ms" for q in deck), len(deck) // 4)
        for q in deck:
            cells = (q["x_hi"] - q["x_lo"] + 1) * (q["lx_hi"] - q["lx_lo"] + 1)
            self.assertGreaterEqual(cells, 1)
            self.assertLessEqual(cells, 4e4 * 1.2)
            # offsets stay inside the 64-row depth of the pre-built index
            self.assertLess(q["lx_hi"] + 1, 64)

    def test_draw_keeps_fixed_queries_and_drops_the_engine_ones(self):
        draw = gen.pipeline_draw(11, CATALOG, COSTS)
        self.assertEqual(len(draw), len(set(draw)))
        prefixes = {n.split("_")[0] for n in draw}
        self.assertTrue(set(gen.ALWAYS) <= prefixes)
        self.assertFalse(prefixes & set(gen.EXCLUDED))
        self.assertEqual(len(draw), len(gen.ALWAYS) + gen.EXTRA_BINS)
        # every defining module is drawn; queries without a cost never are
        self.assertEqual({CATALOG[n] for n in draw}, {"relational", "llm", "timeseries"})
        costs = {n: c for n, c in COSTS.items() if n != "q00_x"}
        for seed in range(20):
            self.assertNotIn("q00_x", gen.pipeline_draw(seed, CATALOG, costs))


class ReducerTest(unittest.TestCase):

    def test_p90_when_enough_samples_lie_beyond(self):
        xs = list(range(1, 201))
        v, q = metrics.tail(xs)
        self.assertEqual(q, 0.9)
        self.assertGreaterEqual(sum(x > v for x in xs), 10)

    def test_falls_back_to_the_highest_percentile_with_ten_beyond(self):
        xs = [float(x) for x in range(50)]
        v, q = metrics.tail(xs)
        self.assertAlmostEqual(q, 0.8)
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_never_below_the_median(self):
        xs = [3.0, 1.0, 2.0, 5.0, 4.0]
        v, q = metrics.tail(xs)
        self.assertEqual((v, q), (3.0, 0.5))

    def test_whole_passes(self):
        self.assertEqual(metrics.whole_passes(list(range(11)), 4), list(range(8)))
        self.assertEqual(metrics.whole_passes(list(range(3)), 4), [0, 1, 2])

    def test_quantile_interpolates(self):
        self.assertEqual(metrics.quantile([1, 2, 3, 4], 0.5), 2.5)


class SpanTest(unittest.TestCase):

    @staticmethod
    def span(start, end, parent):
        return {"req": 0, "name": "s", "start_ns": start, "end_ns": end, "parent": parent}

    def test_self_times_sum_to_the_root(self):
        spans = [self.span(0, 100, -1),      # request
                 self.span(10, 40, 0),       # child
                 self.span(15, 25, 1),       # grandchild
                 self.span(50, 90, 0)]       # child
        self_ns = metrics.self_times(spans)
        self.assertEqual(self_ns, [30, 20, 10, 40])
        self.assertEqual(sum(self_ns), 100)

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, 100, -1), self.span(10, 60, 0), self.span(40, 80, 0)]
        self.assertEqual(metrics.self_times(spans)[0], 30)

    def test_span_check_compares_against_the_independent_wall(self):
        spans = [dict(self.span(0, 100, -1), req=4), dict(self.span(10, 40, 0), req=4)]
        result = {"spans": spans}
        req = {"i": 4, "kind": "traced", "ok": True, "wall_ns": 100}
        self.assertEqual(run.span_check(result, [req]), 0)
        # work timed around the request but outside its spans shows up
        self.assertEqual(run.span_check(result, [dict(req, wall_ns=5_000_100)]), 5_000_000)
        self.assertGreater(run.span_check(result, [dict(req, wall_ns=5_000_100)]),
                           run.SPAN_TOL_NS)
        # only traced requests carry spans
        self.assertEqual(run.span_check(result, [dict(req, kind="plain", wall_ns=9e9)]), 0)

    def test_by_request_reindexes_parents(self):
        spans = [dict(self.span(0, 10, -1), req=1), dict(self.span(0, 10, -1), req=2),
                 dict(self.span(2, 4, 0), req=1), dict(self.span(3, 5, 1), req=2)]
        groups = metrics.by_request(spans)
        self.assertEqual([s["parent"] for s in groups[1]], [-1, 0])
        self.assertEqual([s["parent"] for s in groups[2]], [-1, 0])


class DigestTest(unittest.TestCase):

    def test_row_order_and_column_order_do_not_matter(self):
        a = oracle.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.digest(["a", "b"], [("y", 2), ("x", 2)]))

    def test_canonical_values(self):
        self.assertEqual(oracle.value(-0.0), "0")
        self.assertEqual(oracle.value(1.5), "3ff8000000000000")
        self.assertEqual(oracle.value(True), "true")
        self.assertEqual(oracle.value(None), "null")
        self.assertEqual(oracle.value([1, 2.0]), "[1,4000000000000000]")


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints, with their
    units, and stays inside the benchmark contract's limits."""

    path = os.path.join(run.ROOT, "BENCHMARK.json")

    @unittest.skipUnless(os.path.exists(path), "no BENCHMARK.json beside the benchmark")
    def test_metrics_match_the_runner(self):
        with open(self.path) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.LAYERS)
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertLessEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in b["end_to_end"] + b["per_layer"] + b["workloads"]:
            self.assertRegex(m["name"], name)
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertTrue(all(len(w["why"]) <= 200 for w in b["workloads"]))


if __name__ == "__main__":
    unittest.main()
