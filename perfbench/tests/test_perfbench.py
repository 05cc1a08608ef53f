"""Tests of the benchmark itself: seeded inputs, failure accounting and the
printed metric set.

    python3 -m unittest discover -s perfbench/tests

The last test runs the real harness on a tiny input and is skipped until
the first benchmark run has built perfbench/target.
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import seedgen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _tables(d):
    """Two small tables, one with two row groups and a nanosecond
    timestamp, like the events test table."""
    n = 1000
    events = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "user_id": pa.array([i % 37 for i in range(n)], pa.int64()),
        "ts": pa.array([i * 1_000_000_007 for i in range(n)], pa.timestamp("ns")),
        "payload": pa.array([None if i % 11 == 0 else f"p{i % 13}" for i in range(n)]),
    })
    pq.write_table(events, os.path.join(d, "events.parquet"), row_group_size=600)
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": ["A", "B", "C", "D", "E"]})
    pq.write_table(region, os.path.join(d, "region.parquet"))


def _rows(path):
    t = pq.read_table(path)
    return sorted(map(tuple, zip(*(t.column(i).to_pylist() for i in range(t.num_columns)))),
                  key=repr)


class SeedGenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.src = os.path.join(self.tmp.name, "src")
        os.makedirs(self.src)
        _tables(self.src)

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, seed, name):
        out = os.path.join(self.tmp.name, name)
        seedgen.generate(self.src, out, seed)
        return out

    def test_same_seed_same_files(self):
        a, b = self.gen(7, "a"), self.gen(7, "b")
        for t in ("events", "region"):
            ta = pq.read_table(os.path.join(a, t + ".parquet"))
            tb = pq.read_table(os.path.join(b, t + ".parquet"))
            self.assertTrue(ta.equals(tb), t)

    def test_other_seed_other_order(self):
        a, b = self.gen(7, "a"), self.gen(8, "b")
        ta = pq.read_table(os.path.join(a, "events.parquet"))
        tb = pq.read_table(os.path.join(b, "events.parquet"))
        self.assertFalse(ta.equals(tb))

    def test_rows_schema_and_row_groups_preserved(self):
        out = self.gen(3, "g")
        for t in ("events", "region"):
            src, dst = (os.path.join(d, t + ".parquet") for d in (self.src, out))
            self.assertEqual(_rows(src), _rows(dst), t)
            self.assertEqual(pq.read_schema(src), pq.read_schema(dst), t)
            ms, md = pq.ParquetFile(src).metadata, pq.ParquetFile(dst).metadata
            self.assertEqual(
                [ms.row_group(i).num_rows for i in range(ms.num_row_groups)],
                [md.row_group(i).num_rows for i in range(md.num_row_groups)], t)
            self.assertEqual(ms.row_group(0).column(0).compression,
                             md.row_group(0).column(0).compression, t)


def _report(fail=None, pairs=3):
    """A harness report of two queries over a first pass, a slow warm-up
    round and `pairs` rounds of one cold and one warm pass, the first round
    traced; `fail` names a query that threw
    in the second warm pass."""
    def q(name, t, ok=True):
        return {"name": name, "build_s": t / 4, "plan_s": t / 4, "exec_s": t / 2,
                "ok": ok, "error": None if ok else "java.lang.RuntimeException: boom"}

    counters = {"jobs_build": 3, "jobs_exec": 5, "stages": 9, "tasks": 40,
                "task_run_ms": 1200, "task_deser_ms": 30, "task_gc_ms": 10,
                "shuffle_write_bytes": 1000, "shuffle_read_bytes": 900,
                "spill_bytes": 0, "input_bytes": 5000, "input_records": 70,
                "tasks_failed": 0, "task_skew": 1.5}

    def p(i, kind, wall, qs, traced):
        return {"index": i, "kind": kind, "traced": traced, "wall_s": wall, "queries": qs,
                "layer_build_s": 0.7 if kind != "warm" else 0.0,
                "layer_builds": 2 if kind != "warm" else 0, "layer_reuses": 1,
                "cached_bytes": 2_000_000, "outside_trigger_s": 0.0,
                "counters": counters if traced else {}}

    ps = [p(0, "first", 5.0, [q("a", 2.0), q("b", 2.9)], True),
          p(1, "warmup", 40.0, [q("a", 20.0), q("b", 20.0)], False),
          p(2, "warmup", 30.0, [q("a", 15.0), q("b", 15.0)], False)]
    for i in range(1, pairs + 1):
        ps.append(p(2 * i + 1, "cold", 3.0 + i / 100, [q("a", 1.0), q("b", 1.9)], i == 1))
        ps.append(p(2 * i + 2, "warm", 1.0 + i / 100,
                    [q("a", 0.3 + i / 1000), q("b", 0.6, ok=not (fail == "b" and i == 2))],
                    i == 1))
    return {"setup_end_ms": 0, "scan_s": 0.45, "cpus": 4, "passes": ps,
            "cached_bytes_end": 2_500_000, "heap_bytes_first": 90_000_000,
            "state_rows": 0, "state_bytes": 0, "state_rows_evicted": 0,
            "setup_s": 4.1,
            "check": [{"name": "a", "ok": True, "error": None},
                      {"name": "b", "ok": True, "error": None}]}


class SummaryTest(unittest.TestCase):
    def spec(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return json.load(f)

    def test_throwing_query_counts_in_failed(self):
        result, detail = run.summarize(_report(fail="b"), {"a": None, "b": None}, False)
        m = result["metrics"]
        self.assertEqual(result["failed"], 1)
        self.assertEqual(result["attempted"], 18)
        self.assertFalse(result["correct"])
        self.assertAlmostEqual(detail["failed_frac"], 1 / 18)
        self.assertAlmostEqual(m["ok_frac"]["value"], 1 - 1 / 18)
        self.assertEqual(detail["failed_queries"], ["b"])
        # the failure voids the makespans instead of shortening them
        for k in ("cold_s", "warm_s", "query_p50_s", "query_p90_s"):
            self.assertIsNone(m[k]["value"], k)

    def test_clean_run_is_correct(self):
        result, detail = run.summarize(_report(), {"a": None, "b": None}, False)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertEqual(detail["latency_samples"], 4)  # untraced warm passes only
        self.assertAlmostEqual(result["metrics"]["warm_s"]["value"], 1.025)
        self.assertAlmostEqual(result["metrics"]["cold_s"]["value"], 3.025)

    def test_warmup_enters_no_metric(self):
        result, _ = run.summarize(_report(), {"a": None, "b": None}, False)
        m = result["metrics"]
        self.assertLess(m["query_p90_s"]["value"], 1.0)
        traced, _ = run.summarize(_report(), {"a": None, "b": None}, True)
        self.assertLess(traced["metrics"]["query.build_s"]["value"], 1.0)
        self.assertLess(traced["metrics"]["layer.builds"]["value"], 3)

    def test_mismatch_is_incorrect(self):
        result, detail = run.summarize(_report(), {"a": None, "b": "FAIL b: values"}, False)
        self.assertFalse(result["correct"])
        self.assertEqual(result["metrics"]["match_frac"]["value"], 0.5)
        self.assertEqual(list(detail["mismatched"]), ["b"])

    def test_every_metric_printed_with_unit(self):
        spec = self.spec()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, _ = run.summarize(_report(), {"a": None, "b": None}, trace == 1)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            self.assertEqual(want, got, key)
            for k, v in result["metrics"].items():
                self.assertIsInstance(v["value"], (int, float), k)

    def test_workloads_match_spec(self):
        self.assertEqual(sorted(w["name"] for w in self.spec()["workloads"]),
                         sorted(WORKLOADS))

    def test_self_time(self):
        spans = [{"id": 1, "parent": 0, "kind": "query", "start": 0, "end": 1000},
                 {"id": 2, "parent": 1, "kind": "exec", "start": 100, "end": 500},
                 {"id": 3, "parent": 1, "kind": "exec", "start": 400, "end": 700}]
        self.assertEqual(run.self_times(spans), {"query": 0.4, "exec": 0.7})


@unittest.skipUnless(os.path.isfile(os.path.join(BENCH, "target", "perfbench.classpath")),
                     "harness not built yet")
class HarnessTest(unittest.TestCase):
    def test_unknown_query_is_reported_failed(self):
        with open(os.path.join(BENCH, "target", "perfbench.classpath")) as f:
            cp = f.read()
        with tempfile.TemporaryDirectory() as tmp:
            src = os.path.join(tmp, "src")
            os.makedirs(src)
            _tables(src)
            wl = {"name": "t", "tables": ["region"], "queries": ["no_such_query"],
                  "rounds": 1, "warm": 1}
            rep, _ = run.run_harness(cp, tmp, src, wl, 1, 0, False,
                                     run.time.time() + 120, os.path.join(tmp, "spans"))
        result, detail = run.summarize(rep, {"no_such_query": "not checked"}, False)
        self.assertEqual(result["failed"], result["attempted"])
        self.assertEqual(detail["failed_queries"], ["no_such_query"])
        self.assertIsNone(result["metrics"]["cold_s"]["value"])


if __name__ == "__main__":
    unittest.main()
