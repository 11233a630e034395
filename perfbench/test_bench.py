"""The benchmark's own tests.

    python3 perfbench/test_bench.py          # from the root of a checkout

The statistics and failure accounting run on hand-made run records; the
harness self-test compiles the harness and runs `perfbench.SelfTest` on
a one-core Spark session.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def op(name, latency, window="untraced", ok=True, error=None, tag="t", layers=None):
    return {"name": name, "window": window, "iter": 0, "tag": tag, "ok": ok, "error": error,
            "latency_s": latency if ok else None, "layers": layers or {}}


def record(ops, window_s=10.0):
    return {"ops": ops, "windows": {"untraced": window_s}, "setup_s": 1.5,
            "spans": [], "extras": [], "iterations": []}


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(stats.median([]))

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)
        self.assertEqual(stats.percentile(list(range(1, 201)), 0.9), 180)

    def test_p50_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile([1.0] * 19, 0.5))
        self.assertEqual(stats.percentile([float(x) for x in range(1, 21)], 0.5), 10.0)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)


class FailureAccounting(unittest.TestCase):
    def test_failed_operations_keep_no_latency(self):
        ops = [op("q1", 1.0), op("q1", 3.0), op("q2", 2.0),
               op("q2", None, ok=False, error="boom"),
               op("q3", None, ok=False, error="output check failed"),
               op("q1", 99.0, window="warmup")]
        e2e, lat = stats.end_to_end(record(ops))
        self.assertEqual(sorted(lat), [1.0, 2.0, 3.0])
        self.assertEqual(e2e["query_p50_s"], 2.0)
        self.assertAlmostEqual(e2e["query_geomean_s"], 2.0)
        # a pass of q1 and q2 at their medians takes 2 + 2 s
        self.assertAlmostEqual(e2e["queries_per_s"], 2 / 4.0)
        names = [f[0] for f in stats.failures(ops)]
        self.assertEqual(names, ["q2", "q3"])
        self.assertIn("boom", [f[3] for f in stats.failures(ops)])


class Throughput(unittest.TestCase):
    def test_rate_of_a_pass_at_median_latencies(self):
        by_name = {"q1": [1.0, 9.0, 1.0], "q2": [3.0, 3.0, 30.0]}
        self.assertAlmostEqual(stats.median_pass_rate(by_name), 2 / 4.0)

    def test_no_rate_without_samples(self):
        self.assertIsNone(stats.median_pass_rate({}))


class Spans(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 100.0},
            {"id": 2, "parent": 1, "start_ms": 10.0, "end_ms": 40.0},
            {"id": 3, "parent": 1, "start_ms": 30.0, "end_ms": 50.0},
            {"id": 4, "parent": 1, "start_ms": 90.0, "end_ms": 120.0},
        ]
        self.assertAlmostEqual(stats.self_times(spans)[1], 100.0 - 40.0 - 10.0)
        self.assertAlmostEqual(stats.self_times(spans)[2], 30.0)


class Contract(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, stats.per_layer_units())
        with open(os.path.join(HERE, "workloads.json")) as f:
            workloads = json.load(f)["workloads"]
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(workloads))

    def test_frozen_queries_follow_the_selection_rule(self):
        with open(os.path.join(HERE, "workloads.json")) as f:
            interactive = json.load(f)["workloads"]["interactive"]
        self.assertEqual(interactive["queries"], interactive["eligible"][::4])

    def test_every_frozen_query_has_an_expected_output(self):
        with open(os.path.join(HERE, "workloads.json")) as f:
            workloads = json.load(f)["workloads"]
        expected = run.read_expected(os.path.join(HERE, "expected.tsv"))
        for w in workloads.values():
            for q in w.get("queries", []):
                self.assertIn(q, expected)


class HarnessSelfTest(unittest.TestCase):
    def test_harness_counts_throwing_and_mismatching_queries_as_failed(self):
        root = os.path.dirname(HERE)
        out = build.build(root)
        scratch = os.path.join(build.build_dir(root), "runs", "selftest-%d" % os.getpid())
        os.makedirs(scratch)
        cmd = build.jvm_command(out, "perfbench.SelfTest", [
            "-Xmx1g", "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + scratch, "-Dspark.local.dir=" + scratch], root)
        try:
            proc = subprocess.run(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                  text=True, timeout=300)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        self.assertIn("SELFTEST OK", proc.stdout)


if __name__ == "__main__":
    unittest.main()
