"""Self-tests of the benchmark's arithmetic and checks; they run in
seconds and need no JVM:

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def job(submit, end, **kw):
    j = {"submit": submit, "end": end, "tasks": 1, "cpu_ns": 0, "gc_ms": 0,
         "rows_read": 0, "shuffle_bytes": 0, "written_bytes": 0}
    j.update(kw)
    return j


class OrderStatistics(unittest.TestCase):
    def test_median_and_quartiles(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9]), (2.5, 5.0, 7.5))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(stats.geomean([2.5]), 2.5)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        # 11 samples: only the lowest has ten beyond it
        self.assertEqual(stats.tail(list(range(11))), (0, 100 / 11))
        # 20 samples: the 10th value, the median
        self.assertEqual(stats.tail(list(range(20, 0, -1))), (10, 50.0))
        # from 100 samples on, p90
        self.assertEqual(stats.tail(list(range(100))), (89, 90.0))
        self.assertEqual(stats.tail(list(range(200))), (179, 90.0))


class Attribution(unittest.TestCase):
    spans = [{"name": "op", "start": 0, "end": 100},
             {"name": "op.a", "start": 10, "end": 40},
             {"name": "op.b", "start": 40, "end": 90},
             {"name": "next", "start": 100, "end": 150}]

    def test_innermost_open_span_wins(self):
        jobs = [job(5, 8), job(20, 30), job(40, 45), job(95, 99), job(100, 120),
                job(160, 170)]
        got = [None if i is None else self.spans[i]["name"]
               for i in stats.attribute(self.spans, jobs)]
        # a job at a shared boundary goes to the span that opened last;
        # a job outside every span is credited to none
        self.assertEqual(got, ["op", "op.a", "op.b", "op", "next", None])

    def test_counters_cover_child_spans_and_driver_time(self):
        jobs = [job(20, 30, cpu_ns=2e9), job(25, 35), job(50, 60, written_bytes=1048576)]
        c = stats.span_counters(self.spans[0], jobs)
        self.assertEqual(c["jobs"], 3)
        self.assertAlmostEqual(c["wall_s"], 0.1)
        # jobs cover [20, 35] and [50, 60]: 25 ms busy of 100
        self.assertAlmostEqual(c["driver_s"], 0.075)
        self.assertAlmostEqual(c["overlap"], 30 / 25)
        self.assertAlmostEqual(c["cpu_s"], 2.0)
        self.assertAlmostEqual(c["written_mb"], 1.0)
        self.assertEqual(stats.span_counters(self.spans[3], jobs)["jobs"], 0)

    def test_attributed_share_counts_only_spans_inside_the_op(self):
        ops = [{"start": 10, "end": 90}, {"start": 100, "end": 150}]
        spans = [{"name": "cycle", "start": 0, "end": 200},
                 {"name": "layer", "start": 20, "end": 80},
                 {"name": "next", "start": 100, "end": 150}]
        # the op's second job falls between its layer spans: the cycle
        # span, opened outside the op, gets it
        jobs = [job(30, 40), job(85, 88), job(120, 130)]
        self.assertEqual(stats.attributed_share(ops, spans, jobs), 0.5)
        self.assertEqual(stats.attributed_share(ops, spans, jobs[:1] + jobs[2:]), 1.0)
        self.assertEqual(stats.attributed_share(ops, spans, []), 1.0)


class Checks(unittest.TestCase):
    def test_wrong_output_counts_in_fail_frac(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "results", "q_right"))
            os.makedirs(os.path.join(d, "results", "q_wrong"))
            for q, v in (("q_right", 1), ("q_wrong", 2)):
                duckdb.sql(f"COPY (SELECT {v} AS a, 'x' AS b) TO "
                           f"'{d}/results/{q}/part-0.parquet' (FORMAT PARQUET)")
            sql = {"q_right": "SELECT 'x' AS b, 1 AS a", "q_wrong": "SELECT 1 AS a, 'x' AS b"}
            res = oracle.check(run.DATA, os.path.join(d, "results"), sql)
            self.assertIsNone(res["q_right"])
            self.assertIn("differ", res["q_wrong"])
            rec = {"values": {}, "notes": {f"oracle.{q}": s for q, s in sql.items()},
                   "ops": [{"kind": f"q.{q}", "ok": True} for q in ("q_right", "q_wrong")] * 2 +
                   [{"kind": "q.q_right", "ok": False}]}
            args = type("A", (), {"workload": "batch_pipeline"})
            failed, detail = run.checks(args, rec, d)
            # both executions of the wrong query, plus the one whose hash moved
            self.assertEqual(failed, 3)
            self.assertAlmostEqual(stats.fail_frac(len(rec["ops"]), failed), 0.6)


class Contract(unittest.TestCase):
    def test_benchmark_json_names_every_metric(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.END_TO_END))
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.per_layer_units())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
