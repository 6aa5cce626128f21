"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

import numpy

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import oracle  # noqa: E402

PIPELINE_SRC = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                            "src", "main", "scala", "graft", "Pipeline.scala")


def job(i, start, end, group=None, frames=(), tasks=4, cpu_ms=100.0):
    return {"job": i, "group": group, "start_ms": start, "end_ms": end, "ok": True,
            "stages": [{"stage": i, "name": "x", "frames": list(frames), "tasks": tasks,
                        "cpu_ms": cpu_ms, "gc_ms": 0.0, "shuffle_write_bytes": 0,
                        "spill_bytes": 0, "output_bytes": 1024 * 1024}]}


def span(layer, sid, start, end):
    return {"layer": layer, "id": sid, "start_ms": start, "end_ms": end}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([7.0], 50), 7.0)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(28))
        self.assertIsNone(metrics.tail_percentile(99))
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)


class EndToEndTest(unittest.TestCase):
    def test_end_to_end_from_operations(self):
        rec = {"setup_s": 4.5, "peak_live_heap_mb": 600.0,
               "ops": [{"name": f"day{i}", "ms": float(ms), "cpu_ms": 4000.0}
                       for i, ms in enumerate([30, 10, 20])],
               "window_start": {"host_jiffies": 1000, "host_steal_jiffies": 10},
               "window_end": {"host_jiffies": 3000, "host_steal_jiffies": 210}}
        self.assertEqual(metrics.host_steal_share(rec), 0.1)
        self.assertEqual(metrics.end_to_end(rec), {"setup_s": (4.5, "s"), "latency_ms": (20.0, "ms"),
                                                   "cpu_s": (12.0, "s"), "live_heap_mb": (600.0, "MB")})
        # three operations: too few for any tail percentile
        self.assertEqual(metrics.latency(rec), {"operations": 3, "p50_ms": 20.0, "mean_ms": 20.0})

    def test_latency_reports_a_tail_once_ten_samples_lie_beyond_it(self):
        rec = {"ops": [{"name": f"q{i}", "ms": float(i)} for i in range(1, 101)]}
        self.assertEqual(metrics.latency(rec),
                         {"operations": 100, "p50_ms": 50.0, "mean_ms": 50.5, "p90_ms": 90.0})


class SelfTimeTest(unittest.TestCase):
    def test_parts_add_up_to_the_span(self):
        parts = metrics.self_times(0.0, 1000.0, {"bronze": 200.0, "silver": 450.0, "gold": 900.0})
        self.assertEqual(parts, {"bronze": 200.0, "silver": 250.0, "gold": 550.0})
        self.assertAlmostEqual(sum(parts.values()), 1000.0)

    def test_stage_without_jobs_takes_no_time(self):
        parts = metrics.self_times(0.0, 100.0, {"bronze": 60.0, "silver": 0.0, "gold": 90.0})
        self.assertEqual(parts["silver"], 0.0)
        self.assertAlmostEqual(sum(parts.values()), 100.0)

    def test_overlap(self):
        self.assertEqual(metrics.overlap([job(0, 0, 10), job(1, 10, 20)]), 1.0)
        self.assertEqual(metrics.overlap([job(0, 0, 10), job(1, 0, 10)]), 2.0)
        self.assertEqual(metrics.overlap([]), 0.0)


class AttributionTest(unittest.TestCase):
    def test_group_then_containment(self):
        spans = [span("Pipeline", "day1", 0, 100), span("io", "log0", 200, 300)]
        jobs = [job(0, 10, 20, group="Pipeline|day1"),
                job(1, 250, 260, group=None),            # no group, inside a span
                job(2, 50, 60, group="a-stream-run-id"),  # streaming micro-batch
                job(3, 500, 510, group=None)]             # outside every span
        owner, missing = metrics.attribute(jobs, spans)
        self.assertEqual(owner, {0: "Pipeline|day1", 1: "io|log0", 2: "Pipeline|day1"})
        self.assertEqual(missing, [3])

    def test_innermost_span_wins(self):
        spans = [span("check", "all", 0, 100), span("queries", "q1", 10, 20)]
        owner, missing = metrics.attribute([job(0, 15, 16)], spans)
        self.assertEqual((owner, missing), ({0: "queries|q1"}, []))

    def test_stage_lines_follow_the_engine_source(self):
        with open(PIPELINE_SRC) as f:
            bounds = metrics.stage_lines(f.read())
        self.assertEqual([name for _, name in bounds], ["bronze", "silver", "gold"])
        lines = [line for line, _ in bounds]
        self.assertEqual(lines, sorted(lines))

    def test_pipeline_stage_from_frames(self):
        bounds = [(100, "bronze"), (120, "silver"), (180, "gold")]
        frame = lambda n: f"graft.Pipeline$.$anonfun$run$3(Pipeline.scala:{n})"
        jobs = [job(0, 0, 1, frames=[frame(110)]),
                job(1, 1, 2, frames=[frame(150)]),
                job(2, 2, 3, frames=["graft.io.VersionedTable$.write(VersionedTable.scala:66)",
                                     frame(200)]),
                job(3, 3, 4, frames=[])]  # no engine frame: stage of the job before
        self.assertEqual(metrics.pipeline_stages(jobs, bounds),
                         {0: "bronze", 1: "silver", 2: "gold", 3: "gold"})

    def test_traced_pipeline_record_leaves_nothing_unattributed(self):
        bounds = [(100, "bronze"), (120, "silver"), (180, "gold")]
        frame = lambda n: f"graft.Pipeline$.x(Pipeline.scala:{n})"
        rec = {"workload": "pipeline_week", "days": 2, "shipments_per_day": 10,
               "ops": [{"name": "day1", "ms": 100.0}, {"name": "day2", "ms": 100.0},
                       {"name": "rerun3", "ms": 50.0}],
               "disk": [{"layer": l, "bytes": 1024 * 1024} for l in ("bronze", "silver", "gold")],
               "spans": [span("Pipeline", "day1", 0, 100), span("Pipeline", "day2", 100, 200),
                         span("Pipeline", "rerun3", 200, 250)],
               "jobs": [job(0, 5, 20, "Pipeline|day1", [frame(110)]),
                        job(1, 105, 120, "Pipeline|day2", [frame(110)]),
                        job(2, 125, 150, "Pipeline|day2", [frame(130)]),
                        job(3, 155, 190, "Pipeline|day2", [frame(190)]),
                        job(4, 160, 195, "Pipeline|day2", [frame(190)]),
                        job(5, 210, 240, "Pipeline|rerun3", [frame(190)])]}
        m = metrics.per_layer(rec, bounds)
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertEqual(m["trace.unattributed_jobs"], 0.0)
        self.assertEqual(m["pipeline.jobs"], 4.0)
        self.assertEqual(m["rerun.jobs"], 1.0)
        self.assertAlmostEqual(m["bronze.s"] + m["silver.s"] + m["gold.s"], 0.1)
        self.assertAlmostEqual(m["gold.overlap"], 70.0 / 40.0)


    def test_analytics_jobs_follow_each_query_layer(self):
        qspan = lambda q, a, b: span(metrics.QUERY_LAYERS[q], q, a, b)
        spans = [qspan(q, 10 * i, 10 * i + 9) for i, q in enumerate(metrics.QUERIES)]
        end = 10 * len(metrics.QUERIES)
        spans += [span("io", "log0", end, end + 4), span("io", "log1", end + 5, end + 11)]
        jobs = [job(i, s["start_ms"] + 1, s["start_ms"] + 2, group=f"{s['layer']}|{s['id']}")
                for i, s in enumerate(spans)]
        jobs.append(job(len(jobs), 1, 2, group="stream-run"))  # micro-batch of q34's span
        rec = {"workload": "analytics_mix", "spans": spans, "jobs": jobs,
               "ops": [{"name": q, "ms": 9.0} for q in metrics.QUERIES]}
        m = metrics.per_layer(rec, [])
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertEqual(m["trace.unattributed_jobs"], 0.0)
        self.assertEqual(metrics.QUERY_LAYERS["p05b_ml_encoders"], "ml")
        self.assertEqual(m["q.p05b_ml_encoders.jobs"], 1.0)
        self.assertEqual(m["q.p03_serve_tracking.jobs"], 1.0)
        self.assertEqual(m["q.q34_pagerank.jobs"], 2.0)
        self.assertEqual(m["analytics.serving.tasks"], 12.0)
        self.assertEqual(m["io.log_append_ms"], 5.0)
        self.assertEqual(m["io.log_append.jobs"], 1.0)


class MetricNamesTest(unittest.TestCase):
    def test_per_layer_names_are_unique_and_few(self):
        self.assertEqual(len(metrics.PER_LAYER), len(set(metrics.PER_LAYER)))
        self.assertLessEqual(len(metrics.PER_LAYER), 128)

    def test_units(self):
        self.assertEqual(metrics.unit("bronze.s"), "s")
        self.assertEqual(metrics.unit("io.log_append_ms"), "ms")
        self.assertEqual(metrics.unit("io.log_append.jobs"), "count")
        self.assertEqual(metrics.unit("gold.disk_mb"), "MB")
        self.assertEqual(metrics.unit("pipeline.jobs"), "count")
        self.assertEqual(metrics.unit("gold.overlap"), "ratio")


class OracleCompareTest(unittest.TestCase):
    def test_rows_and_columns_are_orderless(self):
        ok, _ = oracle.compare(["k", "v"], [("a", 1.0), ("b", 2.0)],
                               ["v", "k"], [(2.0, "b"), (1.0, "a")])
        self.assertTrue(ok)

    def test_mismatches_fail(self):
        self.assertFalse(oracle.compare(["k"], [("a",)], ["k"], [("b",)])[0])
        self.assertFalse(oracle.compare(["k"], [("a",)], ["kk"], [("a",)])[0])
        self.assertFalse(oracle.compare(["k"], [([1, 2],)], ["k"], [([1, 2],)])[0])
        nd = [(numpy.array([1, 2]),)]
        self.assertFalse(oracle.compare(["k"], nd, ["k"], nd)[0])


if __name__ == "__main__":
    unittest.main()
