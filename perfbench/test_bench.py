#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py' -v

They build the harness like run.py does and start small JVMs (about two
minutes in all): the daily_etl generator is deterministic, its expectation
model agrees with what `Lifecycle.run` produces (planted rejections
included), re-delivered revised closes win the merge, and a query that
throws or answers wrongly is counted as failed and never timed as a
success.
"""
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_etl  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".bench_build", "test")
TINY_ETL = {"symbols": 4, "days": 3, "min_passes": 3, "markets": ["tw", "us"]}
ETL_SEED = 5


def tree(root):
    """{relative path: bytes} of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def fresh(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


class GeneratorTest(unittest.TestCase):
    def test_one_seed_gives_identical_bytes(self):
        gens = {
            "etl": lambda d, s: gen_etl.generate(d, s, 4, 3, ["tw", "us"]),
            "tables": lambda d, s: gen_tables.generate(d, s, 0.001),
        }
        for name, gen in gens.items():
            a, b, c = fresh(f"{name}-a"), fresh(f"{name}-b"), fresh(f"{name}-c")
            gen(a, 7)
            gen(b, 7)
            gen(c, 8)
            self.assertTrue(tree(a))
            self.assertEqual(tree(a), tree(b), name)
            self.assertNotEqual(tree(a), tree(c), name)


class DailyEtlTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.line, cls.full = run.execute("daily_etl", ETL_SEED, 0, 0, TINY_ETL)
        cls.fx = gen_etl.Fixture(ETL_SEED, TINY_ETL["symbols"], TINY_ETL["days"],
                                 TINY_ETL["markets"])

    def test_expectation_model_agrees_with_lifecycle(self):
        self.assertEqual(self.full["problems"], [])
        self.assertTrue(self.line["correct"])
        self.assertEqual((self.line["attempted"], self.line["failed"]), (3, 0))
        # the planted errors were exercised, and the engine reported them
        want = gen_etl.Model(self.fx).run(0)
        reasons = {r.split(":")[2] for w in want.values() for r in w["rejections"]}
        self.assertIn("invalid_price", reasons)
        self.assertTrue(any(r.startswith("gap_") for r in reasons))
        got = {s["market"]: s["nRejected"]
               for s in self.full["result"]["backfill"]["extra"]["summaries"]}
        self.assertEqual(got, {w["market"]: w["nRejected"] for w in want.values()})
        self.assertTrue(all(n >= 2 for n in got.values()))
        drops = self.fx.drops
        self.assertTrue(any(not rows for d in drops for fs in d.values() for rows in fs.values()),
                        "an empty file was planted")
        self.assertTrue(any(None in b for d in drops for fs in d.values()
                            for rows in fs.values() for _, b in rows),
                        "a null OHLC row was planted")

    def test_revised_closes_win_the_merge(self):
        engine = {m: [s["rows"], s["checksum"] % (1 << 64)]
                  for m, s in self.full["result"]["stores"].items()}
        latest, first = gen_etl.Model(self.fx), gen_etl.Model(self.fx, keep="first")
        for op in range(len(self.fx.drops)):
            latest.run(op)
            first.run(op)

        def digest(model):
            return {m: [n, c % (1 << 64)] for m, (n, c) in model.store_digest().items()}
        self.assertEqual(engine, digest(latest))
        self.assertNotEqual(engine, digest(first))


class FailureAccountingTest(unittest.TestCase):
    def test_thrown_and_wrong_answers_count_as_failed(self):
        spec = {"sf": 0.001, "queries": ["q14_summary_stats"], "min_passes": 2}
        line, full = run.execute("warehouse_queries", 3, 0, 0, spec, inject_faults=True)
        ops = full["result"]["ops"]
        ok = {}
        for o in ops:
            ok.setdefault(o["name"], set()).add(o["ok"])
        self.assertEqual(ok, {"q14_summary_stats": {True}, "fault_throws": {False},
                              "fault_wrong": {False}})
        self.assertEqual((line["attempted"], line["failed"]), (6, 4))
        self.assertFalse(line["correct"])
        rec = full["record"]
        self.assertAlmostEqual(rec["error_rate"], 4 / 6)
        # only the successful query is timed: the latency metrics are its own
        q14 = min(o["dur_s"] for o in ops if o["name"] == "q14_summary_stats")
        self.assertEqual(rec["metrics"]["op_p50_s"], q14)
        self.assertEqual(rec["metrics"]["op_tail_s"], q14)
        self.assertEqual(rec["n_ops"], 1)
        # the throw is seen as an error, the wrong answer by its oracle
        problems = "\n".join(full["problems"])
        self.assertIn("fault_throws: ERROR", problems)
        self.assertIn("fault_wrong: ROWS 5 vs 6", problems)


if __name__ == "__main__":
    unittest.main()
