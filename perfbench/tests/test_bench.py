"""The benchmark's own tests. From the repository root:

    python3 -m pytest perfbench/tests -q      (or: python3 -m unittest discover perfbench/tests)

The call-site attribution test compiles the benchmark (perfbench/build.py)
when the program sources are present, and is skipped otherwise.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402
import steady  # noqa: E402

SPEC = json.load(open(os.path.join(BENCH, "spec.json")))
BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
ALL_WORKLOADS = SPEC["workloads"]


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digest(self, workload, seed, tag):
        d = os.path.join(self.tmp, f"{workload}-{seed}-{tag}")
        gen.generate(workload, seed, d)
        return gen.tree_digest(d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in ALL_WORKLOADS:
            with self.subTest(workload=w):
                a = self.digest(w, 5, "a")
                self.assertEqual(a, self.digest(w, 5, "b"))
                self.assertNotEqual(a, self.digest(w, 6, "a"))

    def test_request_stream_keeps_the_class_mix_for_every_seed(self):
        for seed in (1, 2, 3):
            gen.gen_api_requests(seed, self.tmp)
            reqs = json.load(open(os.path.join(self.tmp, "requests.json")))["requests"]
            block = reqs[:len(gen.API_BLOCK)]
            self.assertEqual(sorted(q["kind"] for q in block), sorted(gen.API_BLOCK))
            self.assertEqual({q["id"] for q in reqs}, set(range(len(reqs))))
        # a run sends at least min_ops requests: whole blocks, so the mix is the same in every run
        self.assertEqual(ALL_WORKLOADS["api_read"]["min_ops"] % len(gen.API_BLOCK), 0)

    def test_request_mix_is_even_across_classes_and_kinds(self):
        by_class = {}
        for kind in gen.API_BLOCK:
            by_class.setdefault(gen.API_CLASS[kind], []).append(kind)
        self.assertEqual(sorted(by_class), ["agg", "lookup", "scan"])
        self.assertEqual(len({len(v) for v in by_class.values()}), 1)
        for kinds in by_class.values():
            self.assertEqual(len({kinds.count(k) for k in kinds}), 1)

    def test_etl_csvs_follow_the_reference_row_ratios(self):
        gen.gen_etl(1, self.tmp)

        def rows(name):
            with open(os.path.join(self.tmp, "base", name + ".csv")) as f:
                return sum(1 for _ in f) - 1
        products, customers = rows("products"), rows("customers")
        orders, items = rows("orders"), rows("order_items")
        # 100k products : 1M customers : 5M orders : 20M items, plus a few dirty rows
        self.assertAlmostEqual(customers / products, 10, delta=0.5)
        self.assertAlmostEqual(orders / customers, 5, delta=0.1)
        self.assertAlmostEqual(items / orders, 4, delta=0.15)

    def test_input_sizes_do_not_depend_on_the_seed(self):
        import pyarrow.parquet as pq
        rows = []
        for seed in (1, 2):
            d = os.path.join(self.tmp, f"sizes-{seed}")
            gen.gen_api_tables(seed, d)
            rows.append({t: pq.ParquetFile(f"{d}/{t}.parquet").metadata.num_rows
                         for t in ("customer", "supplier", "part", "orders")})
        self.assertEqual(rows[0], rows[1])


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))
        for n in (20, 57, 100, 345, 5000):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)
        self.assertAlmostEqual(stats.percentile(list(range(11)), 90), 9.0)

    def test_spread_matches_statistics_quantiles(self):
        import statistics
        vals = [10, 12, 11, 13, 9, 10, 11, 12, 10, 11]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / statistics.median(vals))

    def test_worse_by_respects_direction(self):
        self.assertAlmostEqual(steady.worse_by(100, 110, "lower"), 0.1)
        self.assertAlmostEqual(steady.worse_by(100, 90, "higher"), 0.1)
        self.assertLess(steady.worse_by(100, 90, "lower"), 0)


class MetricNames(unittest.TestCase):
    def test_names_and_units_use_the_allowed_characters(self):
        metrics = BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in BENCHMARK["workloads"]]
        names += sorted({n for ds in SPEC["detail"].values() for n in ds})
        for n in names:
            self.assertRegex(n, stats.NAME_RE)
        for m in metrics:
            self.assertRegex(m["unit"], stats.UNIT_RE)
        self.assertEqual(len(names), len(set(names)))


class ModuleAttribution(unittest.TestCase):
    """Every repository module gets its jobs: the innermost graft frame of a
    call site names the module; without one, the layer being called."""

    def test_spec_lists_every_repository_module(self):
        expected = ["sources", "clean", "transform", "query", "etl", "operators", "functions", "streaming"]
        self.assertEqual(sorted(SPEC["modules"]), sorted(expected))
        src = os.path.join(ROOT, "src", "main", "scala", "graft")
        if os.path.isdir(src):
            for m in expected:
                self.assertTrue(os.path.isdir(os.path.join(src, m)), m)

    def test_call_sites_map_to_modules(self):
        if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
            self.skipTest("program sources not present")
        import build
        cp = build.build()
        files = {"sources": "Tables", "clean": "Cleaning", "transform": "Transforms", "query": "Analytics",
                 "etl": "Pipeline", "operators": "Dedup", "functions": "VectorExpressions",
                 "streaming": "DedupIngest"}
        lines = []
        for m, f in files.items():
            lines.append("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\\n"
                         f"graft.{m}.{f}$.run({f}.scala:10)\\nperfbench.ApiRead.execute(ApiRead.scala:5)")
        lines.append("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\\nperfbench.ApiRead.x(ApiRead.scala:5)")
        out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Main", "--modules-of"],
                             input="\n".join(lines), stdout=subprocess.PIPE, text=True, check=True).stdout.split()
        self.assertEqual(out, list(files) + ["bench"])


class BenchmarkRecord(unittest.TestCase):
    def test_contract_shape(self):
        self.assertEqual(set(BENCHMARK), {"command", "paths", "run_seconds", "workloads", "end_to_end",
                                          "per_layer"})
        self.assertTrue(2 <= len(BENCHMARK["workloads"]) <= 8)
        self.assertTrue(1 <= BENCHMARK["run_seconds"] <= 60)
        for w in BENCHMARK["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in BENCHMARK["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in BENCHMARK["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = [m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in BENCHMARK["end_to_end"])}])

    def test_benchmark_json_matches_the_spec(self):
        self.assertEqual([(w["name"], w["why"]) for w in BENCHMARK["workloads"]],
                         [(k, v["why"]) for k, v in SPEC["workloads"].items()])
        keys = ("name", "unit", "better", "bound")
        self.assertEqual(BENCHMARK["end_to_end"], [{k: m[k] for k in keys} for m in SPEC["end_to_end"]])
        self.assertEqual(BENCHMARK["per_layer"],
                         [{k: m[k] for k in keys[:3]} for m in SPEC["per_layer"]])

    def test_spec_records_each_workload_and_the_layer_map(self):
        for name, w in ALL_WORKLOADS.items():
            for k in ("why", "loop", "clients", "min_ops", "op", "inputs", "throughput"):
                self.assertIn(k, w, f"{name} lacks {k}")
            self.assertIn(w["loop"], ("closed", "drain"))
        e2e = {m["name"] for m in SPEC["end_to_end"]}
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertIn(m["better"], ("higher", "lower"))
        for m in SPEC["per_layer"]:
            self.assertTrue(m["moves"], m["name"])
            for w, targets in m["moves"].items():
                self.assertIn(w, list(SPEC["workloads"]) + ["*"])
                # an end-to-end metric, or one of the workload's own detail metrics
                allowed = e2e | set(SPEC["detail"].get(w, []))
                self.assertTrue(targets and set(targets) <= allowed, (m["name"], w, targets))


def fake_raw(workload):
    """The smallest raw record the measuring JVM writes for a workload."""
    ops = {"api_read": [{"cls": "lookup", "kind": "hierarchy", "id": 0, "ms": 5.0, "ok": True}],
           "etl_write": [{"cls": "etl", "kind": k, "id": 0, "ms": ms, "ok": True}
                         for k, ms in (("load", 900.0), ("rerun", 500.0), ("delta", 400.0))],
           "stream_ingest": []}[workload]
    progress = [] if workload != "stream_ingest" else [
        {"query": "q", "batch": 0, "rows": 10, "trigger_ms": 50, "add_batch_ms": 30, "query_planning_ms": 5,
         "wal_commit_ms": 4, "commit_offsets_ms": 3, "state_commit_ms": 2, "state_rows": 7,
         "state_memory_bytes": 100}]
    replies = {"api_read": [{"ok": True, "req": {"id": 0}, "rows": [[1]]}],
               "etl_write": [{"cycle": 0, "warehouse_bytes": 10}], "stream_ingest": []}[workload]
    return {"setup": {"session_ms": 1.0, "warmup_ms": 2.0}, "timed_wall_s": 1.0, "cpu_ms": 3.0,
            "gc_ms": 0, "jit_ms": 0, "compiles": 0, "compile_ms": 0.0, "work_units": 1.0, "heap_mb": [1.0],
            "ops": ops, "failures": [], "replies": replies, "progress": progress, "counters": {},
            "setup_counters": {}, "probe_counters": {}, "spans": [],
            "extra": {"csv_bytes": 10, "cycles": 1, "iterations": 1}}


class Metrics(unittest.TestCase):
    def test_every_workload_reports_every_listed_metric(self):
        import run
        for w in BENCHMARK["workloads"]:
            raw = fake_raw(w["name"])
            e2e = run.end_to_end(w["name"], raw, 0.5)
            self.assertEqual(set(e2e), {m["name"] for m in BENCHMARK["end_to_end"]})
            self.assertEqual(set(run.per_layer(w["name"], raw, 0.5)),
                             {m["name"] for m in BENCHMARK["per_layer"]})

    def test_etl_latency_percentiles_use_one_step_kind(self):
        import run
        raw = fake_raw("etl_write")
        self.assertEqual(run.op_latencies("etl_write", raw), [400.0])
        e2e = run.end_to_end("etl_write", raw, 0.0)
        self.assertEqual((e2e["op_p50_ms"], e2e["op_p90_ms"]), (400.0, 400.0))
        self.assertAlmostEqual(e2e["cpu_ms_per_op"], 1.0)


class RefusesWithoutTheProgram(unittest.TestCase):
    def test_exits_nonzero_without_printing_a_result(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(BENCH, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            res = subprocess.run(BENCHMARK["command"] + ["--workload", "api_read", "--seed", "1",
                                                         "--seconds", "1", "--trace", "0"],
                                 cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                                 timeout=180)
            self.assertNotEqual(res.returncode, 0)
            self.assertNotIn('"correct"', res.stdout)
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
