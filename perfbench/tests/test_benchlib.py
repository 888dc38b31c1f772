"""Tests of perfbench's pure helpers and of the generator's determinism.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile(xs, 99.9), 100)
        self.assertEqual(benchlib.percentile([3.0], 50), 3.0)
        self.assertEqual(benchlib.percentile([5, 1, 3], 100), 5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)

    def test_tail_picks_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        p, v, k = benchlib.tail(xs)
        self.assertEqual((p, v, k), (90.0, 90.0, 10))
        p, v, k = benchlib.tail([float(i) for i in range(1, 1001)])
        self.assertEqual((p, k), (99.0, 10))
        p, v, k = benchlib.tail([float(i) for i in range(1, 21)])
        self.assertEqual((p, v, k), (50.0, 10.0, 10))

    def test_tail_none_below_eleven_samples(self):
        self.assertIsNone(benchlib.tail([1.0] * 10))
        self.assertIsNotNone(benchlib.tail([1.0] * 20))

    def test_end_to_end_falls_back_to_max_without_tail(self):
        raw = {"ops": [{"latency_s": x, "cpu_s": 1.0, "docs": 10, "jobs": j,
                        "traced": False} for x, j in ((1.0, 5), (2.0, 7), (4.0, 7))],
               "setup_s": [3.0, 1.0, 2.0], "peak_rss_mb": 100.0,
               "stored_bytes": 50, "input_text_bytes": 25}
        m, wall, info = benchlib.end_to_end(raw)
        self.assertEqual(wall["batch_latency_p50_s"], (2.0, "s"))
        self.assertEqual(wall["batch_latency_tail_s"], (4.0, "s"))
        self.assertEqual(wall["docs_per_s"], (5.0, "docs/s"))
        self.assertEqual(m["setup_s"], (2.0, "s"))
        self.assertEqual(m["spark_jobs_per_op"], (7, "count"))
        self.assertEqual(m["stored_bytes_per_input_byte"], (2.0, "ratio"))
        self.assertEqual((info["tail_percentile"], info["samples"]), (100.0, 3))
        self.assertEqual([n for n, _ in benchlib.E2E], list(m))
        self.assertEqual([n for n, _ in benchlib.WALL], list(wall))


def span(i, parent, start, end):
    return {"id": i, "name": "s%d" % i, "parent": parent, "run": "r",
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9),
            "start_wall_ms": int(start * 1e3)}


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 3), span(3, 1, 5, 6)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[1], 7.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 1.0)

    def test_overlapping_children_counted_once(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 5), span(3, 1, 4, 6)]
        self.assertAlmostEqual(benchlib.self_times(spans)[1], 5.0)

    def test_grandchildren_do_not_count_twice(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 2, 8), span(3, 2, 3, 4)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[1], 4.0)
        self.assertAlmostEqual(st[2], 5.0)

    def test_child_clipped_to_parent(self):
        spans = [span(1, 0, 0, 4), span(2, 1, 3, 9)]
        self.assertAlmostEqual(benchlib.self_times(spans)[1], 3.0)


class ModuleTest(unittest.TestCase):
    modules = {"Pipeline.scala": "Pipeline", "DedupStream.scala": "streaming",
               "ExtensionQueries.scala": "queries", "Bpe.scala": "operators",
               "Harness.scala": "bench"}

    def test_callsite_to_module(self):
        m = self.modules
        self.assertEqual(benchlib.module_of("count at Pipeline.scala:275", m), "Pipeline")
        self.assertEqual(benchlib.module_of("parquet at DedupStream.scala:401", m),
                         "streaming")
        self.assertEqual(benchlib.module_of("collect at Bpe.scala:12", m), "operators")
        self.assertEqual(benchlib.module_of("count at Harness.scala:3", m), "bench")
        self.assertEqual(benchlib.module_of(
            "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", m),
            "spark")
        self.assertEqual(benchlib.module_of("", m), "spark")
        self.assertEqual(benchlib.module_of(None, m, default="x"), "x")

    def test_file_modules_from_source_tree(self):
        mods = benchlib.file_modules(os.path.join(ROOT, "src", "main", "scala", "graft"))
        if not mods:
            self.skipTest("program sources not present")
        self.assertEqual(mods["Pipeline.scala"], "Pipeline")
        self.assertEqual(mods["DedupStream.scala"], "streaming")
        self.assertEqual(mods["VecAgg.scala"], "agg")
        self.assertEqual(mods["Bpe.scala"], "operators")


class PerLayerTest(unittest.TestCase):
    def test_every_metric_derived_and_jobs_attributed(self):
        spans = [dict(span(1, 0, 0, 10), name="op"),
                 dict(span(2, 1, 1, 9), name="streaming.DedupStream.batch")]
        jobs = [{"job_id": 0, "span": 2, "callsite": "parquet at DedupStream.scala:9",
                 "start_ms": 1500, "end_ms": 2500, "stages": 2, "tasks": 8,
                 "shuffle_read_bytes": 10, "shuffle_write_bytes": 20, "spill_bytes": 0,
                 "executor_cpu_s": 0.5, "gc_s": 0.1, "scheduler_delay_s": 0.2,
                 "stage_skew": 1.5}]
        raw = {"spans": spans, "jobs": jobs, "layer": {"streaming.accepted": 7},
               "ops": [{"latency_s": 10.0, "traced": True, "docs": 1},
                       {"latency_s": 8.0, "traced": False, "docs": 1}]}
        mods = {"DedupStream.scala": "streaming"}
        m = benchlib.per_layer(raw, mods, dict(benchlib.PER_LAYER))
        self.assertEqual(set(m), {n for n, _ in benchlib.PER_LAYER})
        self.assertEqual(m["streaming.accepted"][0], 7.0)
        self.assertEqual(m["streaming.jobs"][0], 1.0)
        self.assertAlmostEqual(m["streaming.start_wait_s"][0], 0.5)
        self.assertEqual(m["spark.stages"][0], 2.0)
        self.assertEqual(m["spark.stage_skew"][0], 1.5)
        self.assertAlmostEqual(m["trace.overhead_ratio"][0], 0.25)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         list(benchlib.E2E))
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         list(benchlib.PER_LAYER))


class GeneratorTest(unittest.TestCase):
    """Same seed: byte-identical files (equal digests); other seed: not."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def small(self, workload):
        size = dict(gen.SIZES[workload])
        size.update(posts=60, vocab=200)
        if "batch_posts" in size:
            size.update(batches=3, batch_posts=40)
        if "dup_clusters" in size:
            size.update(posts=300, dup_clusters=3, sem_clusters=3, contaminated=2)
        return size

    def check(self, workload):
        size = self.small(workload)
        a = gen.generate(workload, 11, os.path.join(self.tmp, "a"), size)
        b = gen.generate(workload, 11, os.path.join(self.tmp, "b"), size)
        c = gen.generate(workload, 12, os.path.join(self.tmp, "c"), size)
        self.assertEqual(a["digest"], b["digest"])
        self.assertEqual(a["digest"], gen.digest_dir(os.path.join(self.tmp, "b")))
        self.assertNotEqual(a["digest"], c["digest"])
        self.assertEqual(a["properties"], b["properties"])
        return a

    def test_batch_vectorize(self):
        m = self.check("batch_vectorize")
        p = m["properties"]
        self.assertEqual(p["posts"], 60)
        self.assertGreater(p["oov_token_share"], 0.0)

    def test_stream_ingest_plants(self):
        m = self.check("stream_ingest")
        with open(os.path.join(self.tmp, "a", "truth.json")) as f:
            truth = json.load(f)
        self.assertEqual(m["properties"]["arrivals"], 120)
        self.assertGreater(len(truth["reposts"]), 0)
        # every re-post points at an earlier arrival
        for dup, orig in truth["reposts"] + truth["near_dups"]:
            self.assertLess(orig, dup)

    def test_release_pipeline(self):
        self.check("release_pipeline")

    def test_cached_rejects_tampered_inputs(self):
        out = os.path.join(self.tmp, "d")
        gen.generate("batch_vectorize", 3, out)
        self.assertIsNotNone(gen.cached("batch_vectorize", 3, out))
        self.assertIsNone(gen.cached("batch_vectorize", 4, out))
        with open(os.path.join(out, "vec", "en.vec"), "a") as f:
            f.write("x\n")
        self.assertIsNone(gen.cached("batch_vectorize", 3, out))


if __name__ == "__main__":
    unittest.main()
