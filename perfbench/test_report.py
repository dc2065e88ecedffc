import unittest

import report


def span(id, name, start, end, parent=0, op=0, tag="", **attrs):
    return {"id": id, "name": name, "start": start, "end": end, "parent": parent,
            "op": op, "tag": tag, "attrs": attrs}


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count(self):
        self.assertEqual(report.percentile([5.0, 1.0, 3.0], 50), (3.0, 3))
        self.assertEqual(report.percentile(list(range(101)), 95), (95.0, 101))
        value, n = report.percentile([], 50)
        self.assertEqual(n, 0)
        self.assertNotEqual(value, value)  # nan

    def test_interpolates(self):
        self.assertEqual(report.percentile([0.0, 10.0], 95), (9.5, 2))


class SelfTimeTest(unittest.TestCase):
    # op [0, 100]
    #   build [0, 60]:  job [10, 30], job [20, 40] (overlapping), phase [50, 55]
    #   sink [60, 100]: phase [60, 62], job [70, 130] (runs past the sink)
    def trace(self):
        return [
            span(1, "op", 0, 100),
            span(2, "queries.build", 0, 60, parent=1, op=1),
            span(3, "queries.sink", 60, 100, parent=1, op=1),
            span(4, "spark.job", 10, 30),
            span(5, "spark.job", 20, 40),
            span(6, "spark.planning", 50, 55),
            span(7, "spark.planning", 60, 62),
            span(8, "spark.job", 70, 130),
            span(9, "spark.job", 200, 210),  # outside every operation
        ]

    def test_union_of_overlapping_children(self):
        self.assertEqual(report.union_length([(10, 30), (20, 40), (50, 55)]), 35)
        self.assertEqual(report.union_length([(70, 130)], 60, 100), 30)

    def test_nested_self_times(self):
        spans = self.trace()
        parents = [s for s in spans if s["name"] in ("queries.build", "queries.sink")]
        kids = report.attach_by_time([s for s in spans if s["name"].startswith("spark.")], parents)
        self.assertEqual(sorted(k["id"] for k in kids[2]), [4, 5, 6])
        self.assertEqual(sorted(k["id"] for k in kids[3]), [7, 8])
        self.assertNotIn(9, [k["id"] for ks in kids.values() for k in ks])
        build, sink = parents
        self.assertEqual(report.self_time(build, kids[2]), 60 - 35)
        self.assertEqual(report.self_time(sink, kids[3]), 40 - 2 - 30)

    def test_per_layer_on_synthetic_batch_trace(self):
        spans = self.trace()
        for s in spans:
            if s["name"] == "spark.job":
                s["attrs"] = {"read": 1.0 if s["id"] == 4 else 0.0, "tasks": 2.0, "task_ms": 5.0,
                              "task_wait_ms": 1.0, "stages": 1.0, "input_bytes": 0.0,
                              "shuffle_bytes": 0.0, "spill_bytes": 0.0, "failed_tasks": 0.0}
        spans[0]["attrs"] = {"bytes_written": 300.0, "files_written": 3.0, "live_bytes": 200.0}
        raw = {"workload": "lakehouse_pipeline", "spans": spans, "passes_s": [0.1],
               "ops": [{"kind": "query", "pass": 1, "ms": 100.0, "ok": True}],
               "loop_jit_ms": 7.0, "loop_gc_ms": 1.0}
        m = report.per_layer(raw)
        self.assertAlmostEqual(m["queries.build_ms"], 0.025)  # spans are in microseconds
        self.assertEqual(m["queries.build_jobs"], 2)
        self.assertEqual(m["queries.build_read_jobs"], 1)
        self.assertEqual(m["spark.jobs"], 3)
        self.assertAlmostEqual(m["spark.run_ms"], (30 + 60) / 1000.0)
        self.assertAlmostEqual(m["spark.planning_ms"], 0.007)
        self.assertEqual(m["sources.write_amp"], 1.5)
        self.assertEqual(m["tables.records"], 0)

    def test_server_self_time_subtracts_top_level_children(self):
        spans = [
            span(1, "http", 0, 100, tag="http"),
            span(2, "exec.sql", 5, 25, tag="http"),
            span(3, "spark.analysis", 10, 20, parent=2, tag="http"),
            span(4, "spark.job", 30, 60, tag="http", tasks=1.0, task_ms=1.0, task_wait_ms=0.0,
                 stages=1.0, input_bytes=0.0, shuffle_bytes=0.0, spill_bytes=0.0,
                 failed_tasks=0.0, read=0.0),
            span(5, "tables.record", 70, 80, tag="http"),
            span(6, "spark.planning", 82, 84, tag="tables"),  # the log's own work
        ]
        raw = {"workload": "serve_sql", "spans": spans, "passes_s": [0.1],
               "ops": [{"kind": "http", "pass": 1, "ms": 0.1, "ok": True}],
               "loop_jit_ms": 0.0, "loop_gc_ms": 0.0}
        m = report.per_layer(raw)
        self.assertAlmostEqual(m["server.http_self_ms"], (100 - 20 - 30 - 10) / 1000.0)
        self.assertAlmostEqual(m["exec.sql_ms"], 0.010)
        self.assertAlmostEqual(m["spark.analysis_ms"], 0.010)
        self.assertEqual(m["tables.records"], 1)
        self.assertEqual(m["spark.planning_ms"], 0)


class EndToEndTest(unittest.TestCase):
    def test_batch_serving_metrics_come_from_the_probe(self):
        def op(kind, p, ms):
            return {"kind": kind, "pass": p, "ms": ms, "ok": True, "trivial": kind != "query"}
        raw = {"workload": "lakehouse_pipeline", "setup_s": 30.0, "passes_s": [8.0, 7.0], "heap_mb": 80.0,
               "ops": [op("query", 0, 9000.0), op("query", 1, 4000.0), op("query", 2, 3000.0)],
               "probe": [op("http", 0, 900.0), op("flight", 0, 950.0),  # warm-up pass
                         op("http", 1, 90.0), op("flight", 1, 95.0),
                         op("http", 2, 80.0), op("flight", 2, 85.0)]}
        m = report.end_to_end(raw)
        self.assertEqual(m["query_p50_ms"], (3500.0, 2))  # the warm-up pass is set-up
        self.assertEqual(m["http_p50_ms"], (85.0, 2))
        self.assertEqual(m["flight_p50_ms"], (90.0, 2))
        self.assertEqual(m["trivial_p50_ms"], (87.5, 4))
        self.assertEqual(m["run_s"], (7.5, 2))

    def test_serve_percentiles_leave_select1_to_trivial(self):
        def op(kind, ms, trivial, p=1):
            return {"kind": kind, "pass": p, "ms": ms, "ok": True, "trivial": trivial}
        raw = {"workload": "serve_sql", "setup_s": 20.0, "passes_s": [4.0, 3.0, 3.5], "heap_mb": 135.0,
               "ops": [op("http", 900.0, False, p=0), op("http", 300.0, False), op("http", 500.0, False),
                       op("http", 100.0, True), op("flight", 400.0, False), op("flight", 120.0, True),
                       op("scrape", 50.0, False)],
               "probe": []}
        m = report.end_to_end(raw)
        self.assertEqual(m["query_p50_ms"], (400.0, 3))
        self.assertEqual(m["http_p50_ms"], (400.0, 2))
        self.assertEqual(m["flight_p50_ms"], (400.0, 1))
        self.assertEqual(m["trivial_p50_ms"], (110.0, 2))
        self.assertEqual(m["run_s"], (3.5, 3))


if __name__ == "__main__":
    unittest.main()
