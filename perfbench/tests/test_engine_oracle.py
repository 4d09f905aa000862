"""One tiny sf0.001 CP case: the engine (through the harness: untraced, plain
with listeners, and traced) and its DuckDB transcription agree on every mode, arity and both
engines. Builds the harness on first use (sbt, offline), then takes a JVM
start plus a few seconds.

    python3 -m unittest discover -s perfbench/tests -p 'test_engine*'
"""
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402


def _q(kind, mode, x, lx, cons, k=7):
    q = {"kind": kind, "mode": mode, "x_lo": x[0], "x_hi": x[1], "lx_lo": lx[0],
         "lx_hi": lx[1], "k": k,
         "constraints": [{"name": n, "arg": a, "lo": lo, "hi": hi, "target": t}
                         for n, a, lo, hi, t in cons]}
    q["text"] = gen.cp_text(q)
    return q


AVG = ("avg_amp", None, 30, 70, "MAX")
RIGHT = ("max_amp_excess_right", 4, 0, None, "MIN")
LEFT = ("max_amp_excess_left", 6, -40, 40, "MAX")
DECK = [
    _q("cp", "unrefined", (1, 200), (5, 12), [AVG]),
    _q("cp", "limit", (300, 500), (3, 9), [AVG, RIGHT]),
    _q("cp", "refined", (1, 300), (5, 30), [AVG, RIGHT, LEFT], k=25),   # tightens
    _q("cp", "refined", (600, 990), (2, 8), [("avg_amp", None, 200, 210, "MAX"), RIGHT]),
    _q("ms", "refined", (1, 150), (5, 10), [AVG, LEFT], k=9),
    _q("ms", "limit", (1, 200), (2, 6), [AVG]),
]


class EngineOracleTest(unittest.TestCase):

    def test_engine_matches_duckdb_transcription(self):
        classpath, catalog = run.build()
        work = os.path.join(run.HERE, "work", f"test-engine-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            data = os.path.join(work, "data")
            gen.write_tables(21, 0.001, data, events_only=True)
            plan = {"workload": "cp_interactive", "seconds": 120, "trace": True, "cores": 2,
                    "max_requests": 3 * len(DECK), "data_dir": data,
                    "work_dir": work, "deck": DECK, "warmup": []}
            result = run.run_harness(classpath, plan, 1024, 170)
            reqs = result["requests"]
            self.assertEqual(len(reqs), 3 * len(DECK))
            self.assertTrue(all(r["ok"] for r in reqs), [r["error"] for r in reqs])
            # every deck entry ran once each way
            kinds = ("untraced", "plain", "traced")
            self.assertEqual({(r["deck"], r["kind"]) for r in reqs},
                             {(d, k) for d in range(len(DECK)) for k in kinds})
            # the listeners saw the plain and traced requests only
            with_jobs = {r["kind"] for r in reqs if str(r["i"]) in result["layers"]}
            self.assertEqual(with_jobs, {"plain", "traced"})
            bad, expected, refine = run.check("cp_interactive", DECK, result, data, work, 2,
                                              catalog)
            self.assertEqual(bad, {})
            for r in reqs:
                self.assertEqual(r["digest"], expected[r["deck"]], DECK[r["deck"]]["text"])
            self.assertEqual(sorted(refine.values()), ["relax", "tighten"])
            self.assertLessEqual(run.span_check(result, reqs), run.SPAN_TOL_NS)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
