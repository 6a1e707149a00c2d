"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py      (from the repo root)

The generator tests run in seconds. The others start the benchmark's JVM
(and build it on first use), so they take a few minutes.
"""
import datetime as dt
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def scratch_dir():
    base = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base)


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a = gen.build(11)
        cls.b = gen.build(12)

    def test_same_seed_same_rows(self):
        again = gen.build(11)
        for t in gen.TABLES:
            self.assertTrue(self.a[t].equals(again[t]), t)

    def test_different_seeds_differ(self):
        for t in ("customer", "orders", "lineitem", "events", "documents",
                  "embeddings"):
            self.assertFalse(self.a[t].equals(self.b[t]), t)

    def test_schemas_match_fixtures_md(self):
        """Names and types equal the FIXTURES.md table; timestamps compare
        by kind, since the fixture files store microseconds."""
        with open(os.path.join(ROOT, "FIXTURES.md")) as f:
            doc = f.read()
        kinds = {"int": "int32", "long": "int64", "double": "double",
                 "string": "string", "array<float>": "list<item: float>"}
        for t in gen.TABLES:
            row = re.search(rf"^\| `{t}` \| (.+?) \|", doc, re.M)
            self.assertIsNotNone(row, t)
            # a type may carry a note, as in "props:string (JSON)"
            want = [(n, ty.split(" ")[0]) for n, ty in
                    (c.split(":", 1) for c in row.group(1).split(", "))]
            got = [(f.name, str(f.type)) for f in self.a[t].schema]
            self.assertEqual([n for n, _ in want], [n for n, _ in got], t)
            for (n, wt), (_, gt) in zip(want, got):
                if wt.startswith("timestamp"):
                    self.assertTrue(gt.startswith("timestamp"), (t, n, gt))
                else:
                    self.assertEqual(kinds[wt], gt, (t, n))

    def test_foreign_keys_exist(self):
        con = duckdb.connect()
        for t in gen.TABLES:
            con.register(t, self.a[t])
        for sql in ("SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN "
                    "(SELECT o_orderkey FROM orders)",
                    "SELECT count(*) FROM orders WHERE o_custkey NOT IN "
                    "(SELECT c_custkey FROM customer)",
                    "SELECT count(*) FROM lineitem WHERE l_partkey NOT IN "
                    "(SELECT p_partkey FROM part)",
                    "SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN "
                    "(SELECT s_suppkey FROM supplier)"):
            self.assertEqual(con.execute(sql).fetchone()[0], 0, sql)

    def test_value_domains_of_sf01(self):
        """Each column stays inside the domain the sf0.1 fixture data has."""
        con = duckdb.connect()
        for t in gen.TABLES:
            con.register(t, self.a[t])

        def one(sql):
            return con.execute(sql).fetchone()

        def values(t, c):
            return {r[0] for r in con.execute(
                f"SELECT DISTINCT {c} FROM {t}").fetchall()}

        self.assertEqual(values("lineitem", "l_returnflag"), {"A", "N", "R"})
        self.assertEqual(values("lineitem", "l_linestatus"), {"F", "O"})
        self.assertEqual(values("orders", "o_orderstatus"), {"F", "O", "P"})
        self.assertEqual(values("orders", "o_orderpriority"),
                         set(gen.PRIORITIES))
        self.assertEqual(values("customer", "c_mktsegment"), set(gen.SEGMENTS))
        self.assertEqual(values("events", "event_type"), set(gen.EVENT_TYPES))
        self.assertLessEqual(values("documents", "lang"), set(gen.LANGS))
        lo, hi = one("SELECT min(o_orderdate), max(o_orderdate) FROM orders")
        self.assertGreaterEqual(lo, dt.datetime(1995, 1, 1))
        self.assertLessEqual(hi, dt.datetime(2001, 8, 1))
        lo, hi = one("SELECT min(l_shipdate), max(l_shipdate) FROM lineitem")
        self.assertGreaterEqual(lo, dt.datetime(1995, 1, 2))
        self.assertLessEqual(hi, dt.datetime(2001, 11, 4))
        self.assertEqual(one("SELECT min(l_quantity), max(l_quantity) "
                             "FROM lineitem"), (1.0, 50.0))
        lo, hi = one("SELECT min(l_discount), max(l_discount) FROM lineitem")
        self.assertTrue(0.0 <= lo and hi <= 0.1)
        lo, hi = one("SELECT min(ts), max(ts) FROM events")
        self.assertGreaterEqual(lo, dt.datetime(2024, 1, 1))
        self.assertLess(hi, dt.datetime(2024, 1, 31))
        words = {w for (w,) in con.execute(
            "SELECT DISTINCT unnest(string_split(text, ' ')) FROM documents")
            .fetchall()}
        self.assertLessEqual(words, set(gen.WORDS) | {"dup"})
        self.assertEqual(one("SELECT count(*) FROM documents "
                             "WHERE n_chars <> length(text)"), (0,))
        lo, hi = one("SELECT min(list_dot_product(embedding, embedding)), "
                     "max(list_dot_product(embedding, embedding)) "
                     "FROM embeddings")
        self.assertAlmostEqual(lo, 1.0, places=5)
        self.assertAlmostEqual(hi, 1.0, places=5)


class TailPercentileTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(60), 83)
        vals = list(range(60))
        beyond = [v for v in vals if v > run.nearest_rank(vals, 83)]
        self.assertEqual(len(beyond), 10)

    def test_few_samples_use_the_slowest(self):
        self.assertEqual(run.tail_percentile(17), 100)
        self.assertEqual(run.nearest_rank([1, 2, 3], 100), 3)


class FailureTest(unittest.TestCase):
    """A throwing query and a wrong result each count as failed and make the
    command exit non-zero."""

    def check_failed(self, kind, marker):
        code, out, err = bench("--workload", "interactive", "--seed", "5",
                               "--seconds", "1", "--trace", "0",
                               "--inject", kind)
        self.assertNotEqual(code, 0, err)
        res = json.loads(out.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertLess(res["metrics"]["ok_frac"]["value"], 1.0)
        self.assertIn(marker, out)
        return out

    def test_throwing_query_fails_the_run(self):
        self.check_failed("throw", "THREW inject_throw")
        rec = os.path.join(ROOT, ".bench_build", "runs",
                           "interactive-s5-t0", "record.json")
        with open(rec) as f:
            errors = [s["error"] for s in json.load(f)["samples"]
                      if s["error"]]
        self.assertTrue(errors and "injected failure" in errors[0])
        self.assertIn("\tat ", errors[0])

    def test_wrong_result_fails_the_run(self):
        self.check_failed("wrong", "WRONG inject_wrong")


class TraceTest(unittest.TestCase):
    def test_spans_and_layers_under_two_clients(self):
        code, out, err = bench("--workload", "interactive", "--seed", "6",
                               "--seconds", "1", "--trace", "1")
        self.assertEqual(code, 0, err[-3000:])
        res = json.loads(out.strip().splitlines()[-1])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = {m["name"] for m in json.load(f)["per_layer"]}
        self.assertEqual(set(res["metrics"]), per_layer)
        with open(os.path.join(ROOT, ".bench_build", "runs",
                               "interactive-s6-t1", "spans.json")) as f:
            spans = {s["id"]: s for s in json.load(f)}
        queries = [s for s in spans.values() if s["name"] == "query"]
        self.assertEqual(len(queries), res["attempted"])
        self.assertEqual({q["attrs"]["client"] for q in queries}, {0, 1})
        layers = ["queries.build", "catalyst.optimize", "catalyst.plan",
                  "exec"]
        for q in queries:
            kids = sorted(s["name"] for s in spans.values()
                          if s["parent"] == q["id"])
            self.assertEqual(kids, sorted(layers), q["attrs"]["query"])
        with open(os.path.join(ROOT, ".bench_build", "runs",
                               "interactive-s6-t1", "record.json")) as f:
            samples = json.load(f)["samples"]
        # the generated inputs give every query rows
        self.assertTrue(all(s["rows"] > 0 for s in samples))
        # each client runs every query, in an order of its own
        orders = {}
        for s in samples:
            orders.setdefault(s["client"], []).append(s["query"])
        self.assertEqual(sorted(orders[0]), sorted(orders[1]))
        self.assertNotEqual(orders[0], orders[1])
        jobs = [s for s in spans.values() if s["name"] == "job"]
        self.assertTrue(jobs)
        for j in jobs:
            parent = spans[j["parent"]]
            self.assertIn(parent["name"], layers)
            q = spans[parent["parent"]]
            # a job runs inside the query that started it (job times are
            # whole milliseconds)
            self.assertLessEqual(q["start_us"] - 2000, j["start_us"])
            self.assertGreaterEqual(q["end_us"] + 2000, j["end_us"])


class FullPlanTest(unittest.TestCase):
    def test_timed_plan_is_the_full_plan(self):
        code, out, err = bench("--workload", "interactive", "--seed", "5",
                               "--seconds", "1", "--selftest")
        self.assertEqual(code, 0, err[-3000:])
        res = json.loads(out[out.index("{"):])
        benched = {q for w in run.WORKLOADS.values() for q in w["queries"]}
        self.assertEqual(set(res["queries"]), benched)
        for q, r in res["queries"].items():
            self.assertEqual(r["timed"], r["own"], q)
        # the census can fail: a count plan prunes q162's joins
        self.assertEqual(res["q162"]["full"]["joins"], 11)
        self.assertEqual(res["q162"]["count"]["joins"], 1)


class EmptyCheckoutTest(unittest.TestCase):
    def test_fails_without_the_program_sources(self):
        d = scratch_dir()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(
                                "target", "__pycache__", "project"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 "interactive", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=d, capture_output=True, text=True,
                timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
