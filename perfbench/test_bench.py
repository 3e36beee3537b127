"""Tests of the benchmark itself, at the tiny scale of env.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout; the first test builds the engine.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(workload, trace=0, extra=(), cwd=ROOT, script=os.path.join(HERE, "run.py")):
    r = subprocess.run([sys.executable, script, "--workload", workload, "--seed", "9001",
                        "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return r


def last_json(r):
    return json.loads(r.stdout.strip().splitlines()[-1])


class TinyRuns(unittest.TestCase):
    def test_every_end_to_end_metric_with_its_unit(self):
        for w in WORKLOADS:
            r = run(w)
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
            out = last_json(r)
            self.assertTrue(out["correct"], out)
            self.assertEqual(out["failed"], 0)
            self.assertGreaterEqual(out["attempted"], 1)
            want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
            self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
            for k, v in out["metrics"].items():
                self.assertTrue(math.isfinite(v["value"]) and v["value"] > 0, (w, k, v))
            # the human-readable line carries the failure ratio too
            self.assertIn("fail_ratio=0 ratio", r.stdout)

    def test_every_per_layer_metric_when_traced(self):
        modules = {"taxi_flow": ["streaming.batch_s", "streaming.trigger_ms", "io.sink_s",
                                 "io.source_s", "ml.fit_s", "ml.save_s", "serve.request_s"],
                   "graph_iter": ["queries.plan_s", "queries.plan_jobs", "queries.exec_s",
                                  "layout.build_s", "layout.store_mb"]}
        for w in WORKLOADS:
            r = run(w, trace=1)
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
            out = last_json(r)
            want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
            self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
            self.assertEqual(out["metrics"]["layout.builds_in_run"]["value"], 0)
            self.assertGreater(out["metrics"]["spark.jobs"]["value"], 0)
            layers = json.loads(next(l for l in r.stdout.splitlines()
                                     if l.startswith("per-layer: "))[len("per-layer: "):])
            for k in modules[w]:
                self.assertGreater(layers[k], 0, (w, k))
            # the overhead is a median over ABBA pairs, never one pair
            self.assertGreaterEqual(layers["trace.pairs"], 2, w)
            self.assertIn("trace.overhead_s", layers)

    def test_corrupted_result_is_caught(self):
        for w in WORKLOADS:
            r = run(w, extra=("--corrupt",))
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
            out = last_json(r)
            self.assertFalse(out["correct"], out)
            self.assertGreater(out["failed"], 0)

    def test_without_engine_sources_it_fails_without_a_result(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = run(WORKLOADS[0], cwd=d, script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)
        finally:
            shutil.rmtree(d)


class OracleRule(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.dir = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def engine(self, sql):
        out = os.path.join(self.dir, "r")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        self.con.sql(sql).write_parquet(os.path.join(out, "part-0.parquet"))
        return out

    def test_equal_within_tolerance_passes(self):
        got = self.engine("SELECT 1::BIGINT AS k, 0.1::DOUBLE + 0.2::DOUBLE AS v")
        self.assertTrue(check.compare(self.con, "SELECT 1::BIGINT AS k, 0.3::DOUBLE AS v", got)[0])

    def test_value_beyond_tolerance_fails(self):
        got = self.engine("SELECT 1::BIGINT AS k, 0.300001::DOUBLE AS v")
        self.assertFalse(check.compare(self.con, "SELECT 1::BIGINT AS k, 0.3::DOUBLE AS v", got)[0])

    def test_wide_integer_oracle_column_fails(self):
        got = self.engine("SELECT 1::BIGINT AS k")
        self.assertFalse(check.compare(self.con, "SELECT 1::HUGEINT AS k", got)[0])

    def test_row_order_only_difference_passes(self):
        got = self.engine("SELECT * FROM (VALUES (2), (1)) t(k)")
        self.assertTrue(check.compare(self.con, "SELECT * FROM (VALUES (1), (2)) t(k)", got)[0])

    def test_missing_row_fails(self):
        got = self.engine("SELECT * FROM (VALUES (1)) t(k)")
        self.assertFalse(check.compare(self.con, "SELECT * FROM (VALUES (1), (2)) t(k)", got)[0])


if __name__ == "__main__":
    unittest.main()
