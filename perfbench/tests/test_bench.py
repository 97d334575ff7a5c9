"""Tests of the benchmark's own code: input determinism, the generator's
expectations, the refusal outside a checkout, and a smoke run of every
workload (the DAG one checked against a full refresh).

    python3 -m unittest discover -s perfbench/tests -v
"""

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SCRATCH = os.path.join(BENCH, ".work", "tests")
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

TINY = dict(pools=2, days=3, events_per_pool_day=20, versions_per_pool_day=2, hours=3)


def scratch():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(dir=SCRATCH)


def bench(*args, timeout=400):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=timeout)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


class InputsTest(unittest.TestCase):

    def test_same_seed_gives_identical_inputs(self):
        d = scratch()
        a, b, c = (os.path.join(d, x) for x in "abc")
        gen.generate("deepbook", a, 7, **TINY)
        gen.generate("deepbook", b, 7, **TINY)
        gen.generate("deepbook", c, 8, **TINY)
        self.assertEqual(gen.content_digest(a), gen.content_digest(b))
        self.assertNotEqual(gen.content_digest(a), gen.content_digest(c))
        gen.generate("tables", a, 1, scale=0.002, customer_scale=0.004)
        gen.generate("tables", b, 1, scale=0.002, customer_scale=0.004)
        self.assertEqual(gen.content_digest(a), gen.content_digest(b))
        shutil.rmtree(d)

    def test_expectations_match_the_files(self):
        """The expected per-model row counts are the distinct in-bound keys
        of each event type actually written, base plus every hour."""
        d = scratch()
        exp = gen.generate("deepbook", d, 3, **TINY)
        bound = exp["now_ms"] - exp["backfill_days"] * gen.DAY_MS
        files = [os.path.join(r, f) for r, _, fs in os.walk(os.path.join(d, "base", "sui_events.parquet"))
                 for f in fs] + [os.path.join(d, "hours", h, "sui_events.parquet")
                                 for h in sorted(os.listdir(os.path.join(d, "hours")))]
        rows = [r for f in files for r in pq.read_table(f).to_pylist()]
        for model, etype in gen.EVENT_TYPES.items():
            keys = {(r["transaction_digest"], r["event_index"]) for r in rows
                    if r["event_type"] == etype and r["timestamp_ms"] >= bound}
            self.assertEqual(len(keys), exp["hours"][-1]["event_rows"][model], model)
        self.assertGreater(sum(exp["hours"][-1]["event_rows"].values()), sum(exp["base"]["event_rows"].values()))
        shutil.rmtree(d)

    def test_fixture_edge_cases_are_kept(self):
        d = scratch()
        exp = gen.generate("deepbook", d, 5, pools=5, days=4, events_per_pool_day=200,
                           versions_per_pool_day=3, hours=1)
        bound = exp["now_ms"] - exp["backfill_days"] * gen.DAY_MS
        read = lambda t: pq.read_table(os.path.join(d, "base", t)).to_pylist()  # noqa: E731
        events, objects, prices = read("sui_events.parquet"), read("sui_objects.parquet"), read("prices_day.parquet")
        blob = " ".join(r["event_json"] for r in events)
        self.assertIn('"name":"0x2::sui::SUI"', blob)  # SUI short form
        self.assertIn(gen.UNKNOWN, blob)  # unknown asset
        self.assertIn('"asset_type":{"name"', blob)  # nested asset paths
        self.assertTrue(any(x in blob for x in ('"xx"', '"oops"', '"n/a"')))  # malformed numerics
        self.assertTrue(any(r["timestamp_ms"] < bound for r in events))  # older than the bound
        self.assertTrue(any(r["timestamp_ms"] < bound for r in objects))
        days = [(r["object_id"], r["timestamp_ms"] // gen.DAY_MS) for r in objects if r["type_"].startswith(gen.POOL_TYPE_PREFIX)]
        self.assertLess(len(set(days)), len(days))  # multi-version object days
        pdays = [(r["symbol"], r["timestamp"].date()) for r in prices if r["blockchain"] == "sui"]
        self.assertLess(len(set(pdays)), len(pdays))  # several prices per symbol-day
        shutil.rmtree(d)


class RunnerTest(unittest.TestCase):

    def test_refuses_without_the_program(self):
        """In a directory holding only BENCHMARK.json and perfbench/ it exits
        non-zero without printing a result."""
        d = scratch()
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=d, capture_output=True, text=True,
                           timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")
        shutil.rmtree(d)

    def check_result(self, lines, names):
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(list(result["metrics"]), names)
        for v in result["metrics"].values():
            self.assertTrue(math.isfinite(v["value"]))
        return result["metrics"]

    def test_smoke_every_workload(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        e2e = [m["name"] for m in spec["end_to_end"]]
        layers = [m["name"] for m in spec["per_layer"]]
        # the DAG at tiny size: incremental runs must equal a full refresh
        rc, out, err = bench("--workload", "dag_incremental", "--seed", "1", "--seconds", "1",
                             "--trace", "1", "--smoke")
        self.assertEqual(rc, 0, err[-3000:])
        m = self.check_result(out, layers)
        self.assertGreater(m["models.events.rows_out"]["value"], 0)
        self.assertGreater(m["store.files_linked"]["value"], 0)
        self.assertGreater(m["backfill.runner.wall_s"]["value"], 0)
        rc, out, err = bench("--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0")
        self.assertEqual(rc, 0, err[-3000:])
        m = self.check_result(out, e2e)
        self.assertGreater(m["op_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
