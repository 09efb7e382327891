"""Tests of the benchmark's own arithmetic and workload split.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The registry coverage test compiles the program first when no build exists.
"""
import os
import unittest

import metrics
import oracle
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ex(query, ok=True, build=1.0, plan=2.0, exe=3.0, release=0.5, fallback=0):
    return {"query": query, "ok": ok, "build_ms": build, "plan_ms": plan,
            "exec_ms": exe, "release_ms": release, "codegen_fallback": fallback}


class Arithmetic(unittest.TestCase):
    def test_percentile_weights_every_order_statistic(self):
        xs = list(range(10, 0, -1))  # unsorted input: 10..1
        self.assertAlmostEqual(metrics.percentile(xs, 50), 5.5)  # symmetric weights
        p90 = metrics.percentile(xs, 90)
        self.assertTrue(8.5 < p90 < 10, p90)
        self.assertAlmostEqual(metrics.percentile([4.0] * 7, 90), 4.0)
        self.assertAlmostEqual(metrics.percentile([7.0], 90), 7.0)
        for bad in (([], 50), (xs, 0), (xs, 100)):
            with self.assertRaises(ValueError):
                metrics.percentile(*bad)

    def test_failed_frac(self):
        self.assertEqual(metrics.failed_frac(0, 10), 0.0)
        self.assertAlmostEqual(metrics.failed_frac(3, 12), 0.25)
        for failed, attempted in ((0, 0), (5, 4), (-1, 4)):
            with self.assertRaises(ValueError):
                metrics.failed_frac(failed, attempted)

    def test_slot_util(self):
        self.assertAlmostEqual(metrics.slot_util(4000, 1000, 4), 1.0)
        self.assertAlmostEqual(metrics.slot_util(1800, 1000, 4), 0.45)
        with self.assertRaises(ValueError):
            metrics.slot_util(10, 0, 4)

    def test_failed_execution_adds_no_time(self):
        passes = [ex("a"), ex("b", ok=False, build=500.0)]
        self.assertAlmostEqual(metrics.pass_seconds(passes), 6.5 / 1e3)

    def test_end_to_end(self):
        warm = [[ex("a", exe=100.0), ex("b", exe=300.0)],
                [ex("a", exe=200.0), ex("b", exe=400.0)]]
        m = metrics.end_to_end([0.3, 0.1, 0.2], [ex("a", exe=1000.0)], warm,
                               2048, failed=1, attempted=4)
        self.assertEqual(m["setup_s"], (0.2, "s"))
        self.assertAlmostEqual(m["first_pass_s"][0], 1003.5 / 1e3)
        self.assertAlmostEqual(m["pass_s"][0], (407 + 607) / 2 / 1e3)
        self.assertAlmostEqual(m["query_p50_ms"][0], 253.0)  # symmetric sample
        self.assertEqual(m["peak_rss_mb"], (2.0, "MiB"))
        self.assertEqual(m["ok_frac"], (0.75, "fraction"))

    def test_per_layer(self):
        tasks = {("q1_x", 2): {"jobs": 2, "tasks": 8, "cpu_ms": 50.0, "shuffle_bytes": 2 << 20,
                               "max_task_ms": 40, "input_bytes": 1 << 20, "stages": 3,
                               "gc_ms": 5, "spill_bytes": 0, "retries": 0, "exec_run_ms": 6},
                 ("mr_y", 2): {"jobs": 1, "tasks": 4, "cpu_ms": 10.0, "shuffle_bytes": 0,
                               "max_task_ms": 70, "input_bytes": 0, "stages": 1,
                               "gc_ms": 0, "spill_bytes": 1 << 20, "retries": 1, "exec_run_ms": 6}}
        traced = {2: [ex("q1_x", fallback=2), ex("mr_y", fallback=-1)]}
        untraced = {3: [ex("q1_x"), ex("mr_y")]}
        m = metrics.per_layer(workloads.MODULES, workloads.module_of, traced,
                              untraced, tasks, cores=4)
        self.assertEqual(len(m), len(workloads.MODULES) * len(metrics.MODULE_METRICS)
                         + len(metrics.CROSS_METRICS))
        self.assertEqual(m["relational.jobs"], (2, "count"))
        self.assertEqual(m["relational.shuffle_mb"], (2.0, "MiB"))
        self.assertEqual(m["mr.max_task_ms"], (70, "ms"))
        self.assertEqual(m["dedup.exec_ms"], (0.0, "ms"))
        self.assertEqual(m["GraftExtensions.codegen_fallback"], (2, "count"))
        self.assertEqual(m["spark.spill_mb"], (1.0, "MiB"))
        self.assertEqual(m["spark.task_retries"], (1, "count"))
        # 12 ms of exec-phase task time over 6 ms of exec wall on 4 slots
        self.assertAlmostEqual(m["spark.slot_util"][0], 0.5)
        self.assertAlmostEqual(m["trace.overhead"][0], 1.0)


class Oracle(unittest.TestCase):
    def test_canonical_exact_compare(self):
        a = oracle.canon(["b", "a"], [[2, 1.0], [1, float("nan")]])
        b = oracle.canon(["a", "b"], [[float("nan"), 1], [1.0, 2]])
        self.assertIsNone(oracle.compare(a, b))
        c = oracle.canon(["a", "b"], [[float("nan"), 1], [1.0000001, 2]])
        self.assertIn("row", oracle.compare(a, c))
        self.assertFalse(oracle.cell_eq(1, 1.0))


class Workloads(unittest.TestCase):
    def test_partition_rejects_unknown_prefix(self):
        with self.assertRaises(ValueError):
            workloads.partition(["q1_x", "newmod_query"])

    def test_module_prefixes(self):
        cases = {"q1_pricing_summary": "relational", "q_cube": "relational",
                 "ev_funnel": "relational", "src_csv_dirty": "sources",
                 "pack_sequences": "sample", "mm_resize": "multimodal",
                 "decontam_overlap": "dedup", "graph_bfs": "graph"}
        for name, mod in cases.items():
            self.assertEqual(workloads.module_of(name), mod, name)

    def test_orders_permute_only(self):
        timed = workloads.TIMED["sql_mr_kv"]
        orders = workloads.pass_orders(timed, 7, 4)
        self.assertTrue(all(sorted(o) == sorted(timed) for o in orders))
        self.assertEqual(orders, workloads.pass_orders(timed, 7, 4))
        self.assertNotEqual(orders, workloads.pass_orders(timed, 8, 4))

    def test_registry_is_partitioned_and_swept(self):
        import run
        build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
        os.makedirs(build_dir, exist_ok=True)
        jars = run.spark_jars()
        classes, stamp, _ = run.build(ROOT, build_dir, jars)
        names = run.registry(classes, jars, build_dir, stamp)
        parts = workloads.partition(names)
        flat = [n for p in parts.values() for n in p]
        self.assertEqual(sorted(flat), sorted(names))
        self.assertEqual(len(flat), len(set(flat)))
        for w, part in parts.items():
            timed = workloads.TIMED[w]
            swept = {n for s in range(workloads.SWEEP_SLICES)
                     for n in workloads.sweep_slice(part, timed, s)}
            self.assertEqual(swept | set(timed), set(part), w)


if __name__ == "__main__":
    unittest.main()
