"""Self-tests of the benchmark's own rules.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import stats  # noqa: E402
from run import oracle_check  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 41))  # 40 samples: p75 is the 30th, 10 beyond
        self.assertEqual(stats.tail(xs, 75), 30)
        self.assertEqual(stats.tail(list(range(1, 101)), 90), 90)

    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(39)), 75)
        with self.assertRaises(ValueError):
            stats.tail(list(range(99)), 90)
        with self.assertRaises(ValueError):
            stats.tail(list(range(1000)), 100)


class SelfTime(unittest.TestCase):
    def test_children_overlaps_and_overhang(self):
        span = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 30.0}, {"start": 20.0, "end": 50.0},
                {"start": 90.0, "end": 120.0}]
        self.assertEqual(stats.self_ms(span, kids), 100.0 - 40.0 - 10.0)
        self.assertEqual(stats.self_ms(span, []), 100.0)

    def test_nested_spans_of_a_traced_lane(self):
        # build [0, 100] holds a job [20, 60] (with a stage) and a query
        # planned over [60, 70]; exec [100, 300] holds one job [150, 280]
        lane = {"id": "w.1.2.l", "lane": "l", "pass": 2, "t0_ms": 0.0, "tb_ms": 100.0,
                "t1_ms": 300.0, "total_s": 0.3, "error": None, "storage_mb": 1.0}
        fields = ["tasks", "run_ms", "duration_ms"]
        result = {"lanes": ["l"], "passes": [{"traced": True, "lanes": [lane], "gc_ms": 0}],
                  "trace": {
                      "jobs": [{"job": 0, "group": "w.1.2.l|build", "start_ms": 20.0,
                                "end_ms": 60.0, "stages": [0], "caches_callsite": True},
                               {"job": 1, "group": "w.1.2.l|exec", "start_ms": 150.0,
                                "end_ms": 280.0, "stages": [1], "caches_callsite": False}],
                      "stages": [{"stage": 0, "attempt": 0, "name": "s", "submitted_ms": 25.0,
                                  "completed_ms": 55.0, "num_tasks": 2},
                                 {"stage": 1, "attempt": 0, "name": "s", "submitted_ms": 160.0,
                                  "completed_ms": 270.0, "num_tasks": 1}],
                      "task_fields": fields,
                      "tasks": {"0": [2, 50, 60], "1": [1, 100, 110]},
                      "queries": [{"phases": {"analysis": [60.0, 62.0],
                                              "optimization": [62.0, 66.0],
                                              "planning": [66.0, 70.0]},
                                   "scans": 3}]}}
        spans = stats.build_spans(result)
        parent = {sp["id"]: sp["parent"] for sp in spans}
        self.assertEqual(parent["job0"], "w.1.2.l/build")
        self.assertEqual(parent["stage0.0"], "job0")
        self.assertEqual(parent["query0"], "w.1.2.l/build")
        self.assertEqual(parent["query0/planning"], "query0")
        m = stats.layer_metrics(spans)
        self.assertAlmostEqual(m["ops.build_self_s"], (100 - 40 - 10) / 1e3)
        self.assertAlmostEqual(m["exec.self_s"], (200 - 130) / 1e3)
        self.assertEqual(m["ops.build_jobs"], 1)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["io.scans"], 3)
        self.assertEqual(m["caches.ckpt_jobs"], 1)
        self.assertAlmostEqual(m["exec.task_overhead_s"], (170 - 150) / 1e3)
        self.assertAlmostEqual(m["exec.parallelism"], 0.150 / 0.170)


class FailFrac(unittest.TestCase):
    """A lane that throws and a lane whose output disagrees with its oracle
    (the fixture's `lane_bad` oracle is deliberately wrong) both count."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_throw_and_mismatch_both_count(self):
        data = os.path.join(self.tmp, "data")
        check = os.path.join(self.tmp, "check")
        os.makedirs(data)
        for name, schema in gen.SCHEMAS.items():
            pq.write_table(schema.empty_table(), os.path.join(data, f"{name}.parquet"))
        region = pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA"]})
        pq.write_table(region, os.path.join(data, "region.parquet"))
        for lane in ("lane_good", "lane_bad"):  # lane_throws wrote nothing
            os.makedirs(os.path.join(check, lane))
            pq.write_table(region, os.path.join(check, lane, "part-0.parquet"))
        shutil.copy(os.path.join(HERE, "fixtures", "oracle_sql.json"), check)
        with open(os.path.join(check, "queries.json"), "w") as f:
            json.dump({"registered": ["lane_bad", "lane_good", "lane_throws"],
                       "failed": ["lane_throws"]}, f)
        tally = oracle_check(data, check)

        def call(lane, p, error=None):
            return {"id": f"w.1.{p}.{lane}", "lane": lane, "pass": p, "total_s": 0.1,
                    "error": error}
        lanes = ["lane_good", "lane_bad", "lane_throws"]
        result = {
            "lanes": lanes,
            "cold": {"lanes": [call(l, 0) for l in lanes]},
            "passes": [{"traced": False, "cpu_s": 1.0, "lanes": [
                call("lane_good", 1), call("lane_bad", 1),
                call("lane_throws", 1, "RuntimeException: boom")]}],
            "check_errors": {"lane_throws": "RuntimeException: boom"},
            "heap_peak_mb": 1.0,
        }
        attempted, failed, named = stats.failures(result, tally)
        self.assertEqual(attempted, 6)
        # one throwing call, plus two lanes failing the check (the wrong
        # oracle and the lane whose check output threw)
        self.assertEqual(failed, 3)
        self.assertTrue(any(n.startswith("lane_bad:") for n in named))
        self.assertFalse(any(n.startswith("lane_good") for n in named))
        self.assertTrue(any("boom" in n for n in named))

    def test_rows_only_digest_must_repeat(self):
        result = {"lanes": ["peek"], "digests": [
            {"lane": "peek", "pass": 1, "rows": 10, "digest": 5},
            {"lane": "peek", "pass": 2, "rows": 10, "digest": 6}]}
        tally = {"queries": {"peek": {"mode": "rows-only", "pass": True}}}
        self.assertIn("peek", stats.check_failures(result, tally))
        result["digests"][1]["digest"] = 5
        self.assertEqual(stats.check_failures(result, tally), {})


class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.rows = {s: gen.generate(os.path.join(cls.tmp, str(s)), s) for s in (7, 8)}
        gen.generate(os.path.join(cls.tmp, "7again"), 7)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def read(self, run, table):
        return pq.read_table(os.path.join(self.tmp, run, f"{table}.parquet"))

    def test_same_seed_same_rows(self):
        for t in gen.TABLES:
            self.assertTrue(self.read("7", t).equals(self.read("7again", t)), t)

    def test_other_seed_other_rows(self):
        for t in gen.TABLES:
            same = self.read("7", t).equals(self.read("8", t))
            self.assertEqual(same, t not in gen.SUBSET_KEY, t)

    def test_keeps_about_95_percent_of_fact_rows(self):
        base = {t: tbl.num_rows for t, tbl in gen.base_tables().items()}
        for t, n in self.rows[7].items():
            if t in gen.SUBSET_KEY:
                self.assertTrue(0.93 < n / base[t] < 0.97, (t, n, base[t]))
            else:
                self.assertEqual(n, base[t], t)

    def test_schema_physical_types_and_one_row_group(self):
        for t in gen.TABLES:
            f = pq.ParquetFile(os.path.join(self.tmp, "8", f"{t}.parquet"))
            self.assertEqual(f.metadata.num_row_groups, 1, t)
            self.assertTrue(f.schema_arrow.equals(gen.SCHEMAS[t]), t)
        ts = pq.ParquetFile(os.path.join(self.tmp, "8", "events.parquet")).schema.column(1)
        self.assertEqual(ts.physical_type, "INT64")
        self.assertEqual(ts.logical_type.to_json(),
                         '{"Type": "Timestamp", "isAdjustedToUTC": false, "timeUnit": "microseconds", '
                         '"is_from_converted_type": false, "force_set_converted_type": false}')

    def test_lineitem_follows_its_orders(self):
        orders = set(self.read("7", "orders")["o_orderkey"].to_pylist())
        kept = set(self.read("7", "lineitem")["l_orderkey"].to_pylist())
        base = gen.base_tables()["lineitem"]["l_orderkey"].to_numpy()
        dropped = set(base.tolist()) - kept
        self.assertTrue(kept <= orders)
        self.assertFalse(dropped & orders)


if __name__ == "__main__":
    unittest.main()
