#!/usr/bin/env python3
"""Self-tests of the benchmark harness: order statistics, seed
determinism, failure accounting and the metric names of the result line.

    python3 perfbench/selftest.py

The JVM-side checks (a throwing query records a failure and never a
timing) run through `perfbench.SelfTest`, building the harness first if
needed.
"""

import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def bench_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


class Stats(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        for xs in ([5.0], [3.0, 1.0], [9, 1, 4, 7, 2, 8], list(range(1, 23))):
            self.assertAlmostEqual(stats.median(xs), statistics.median(xs))
            q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 \
                else (xs[0],) * 3
            got = [stats.percentile(xs, p) for p in (25, 50, 75)]
            for a, b in zip(got, (q1, q2, q3)):
                self.assertAlmostEqual(a, b)

    def test_percentile_endpoints(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertEqual(stats.percentile([], 50), 0.0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(999), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        for n in (20, 40, 100, 250, 1000, 10_000):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100.0, 10)


class Seeds(unittest.TestCase):
    def plan(self, seed):
        return gen.run_plan(seed, run.N_REVISIONS, run.REVISION_YEARS, run.MAX_HOLDBACK)

    def test_same_seed_same_plan(self):
        self.assertEqual(self.plan(7), self.plan(7))
        self.assertEqual(run.make_plan(7), run.make_plan(7))

    def test_seeds_differ(self):
        plans = [self.plan(s) for s in range(6)]
        self.assertGreater(len({json.dumps(p["build"]) for p in plans}), 1)
        self.assertGreater(len({json.dumps(p["revisions"]) for p in plans}), 1)

    def test_plan_shape(self):
        p = self.plan(3)
        self.assertEqual(sorted(p["build"]), sorted(gen.BUILD_SET))
        self.assertEqual(p["build"][0], gen.BUILD_SET[0])
        self.assertEqual(len(p["revisions"]), run.N_REVISIONS)
        self.assertEqual(len({(r["geo_code"], r["time_code"]) for r in p["revisions"]}),
                         run.N_REVISIONS)
        self.assertTrue(1 <= p["holdback_months"] <= run.MAX_HOLDBACK)
        expected = run.load_expected()
        for n in p["build"]:
            self.assertIn("count", expected[n])

    def test_corpus_is_deterministic(self):
        def digest(d):
            h = hashlib.sha256()
            for name in sorted(os.listdir(d)):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(f.read())
            return h.hexdigest()
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_corpus(a, 0.001)
            gen.write_corpus(b, 0.001)
            self.assertEqual(digest(a), digest(b))
            self.assertEqual(len(os.listdir(a)), 10)


class ResultLine(unittest.TestCase):
    def fake_result(self, failed=0):
        return {"attempted": 10, "failed": failed, "failures": [], "heap_retained_mb": 512.0,
                "first_op_epoch_ms": 0, "spark_version": "x", "marks": {},
                "samples": {"cycle_s": [1.0, 1.2], "cycle_cpu_s": [2.0], "call_ms": [10.0, 20.0, 30.0],
                            "dag_full_refresh_s": [1.0], "dag_incremental_s": [1.0],
                            "dag_test_s": [0.1], "build_cold_s": [2.0], "build_warm_s": [1.0]},
                "layers": {"exec.jobs": 12.0, "not.in.spec": 1.0}}

    def test_metrics_name_every_spec_metric(self):
        spec = bench_spec()
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for wl in run.WORKLOADS:
            for trace, want in ((0, e2e), (1, layer)):
                metrics, named = run.metrics_from(wl, self.fake_result(), 3.0, trace == 1)
                self.assertEqual(set(metrics), set(want), f"{wl} trace={trace}")
                for k, v in metrics.items():
                    self.assertEqual(v["unit"], want[k], k)
                    self.assertIsInstance(v["value"], float, k)
            self.assertIn("ops_failed", named)
            self.assertIn("setup_s", named)

    def test_layer_medians_and_overhead_come_from_samples(self):
        res = self.fake_result()
        res["samples"].update({"tables.resolve_ms": [5.0, 1.0, 3.0],
                               "build.q90.cold_s": [4.0, 2.0, 9.0, 3.0],
                               "traced_cycle_s": [1.2, 1.3]})
        metrics, _ = run.metrics_from("build_cold", res, 3.0, True)
        self.assertEqual(metrics["tables.resolve_ms"]["value"], 3.0)
        self.assertEqual(metrics["build.q90.cold_s"]["value"], 3.5)
        # traced median 1.25 over untraced median 1.1
        self.assertAlmostEqual(metrics["trace.overhead_pct"]["value"], 0.15 / 1.1 * 100)

    def test_add_opens_come_from_the_engine_build(self):
        opens = run.jdk_opens()
        self.assertIn("java.base/sun.nio.ch", opens)
        self.assertTrue(all(o.startswith("java.base/") for o in opens))

    def test_named_metrics_cover_the_workload(self):
        names = {
            "dag_refresh": {"dag_full_refresh_s", "dag_incremental_s", "dag_test_s"},
            "build_cold": {"build_cold_s", "build_warm_s"},
        }
        for wl, want in names.items():
            _, named = run.metrics_from(wl, self.fake_result(failed=2), 3.0, False)
            self.assertTrue(want <= set(named), wl)
            self.assertAlmostEqual(named["ops_failed"][0], 0.2)


class Jvm(unittest.TestCase):
    def test_recorder_and_trace_parsing(self):
        classpath, _ = run.build()
        out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath, "perfbench.SelfTest"],
                             capture_output=True, text=True, timeout=120)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
