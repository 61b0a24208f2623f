"""Self-tests of the benchmark's own arithmetic, on synthetic inputs.

    python3 perfbench/selftest.py          # arithmetic only
    python3 perfbench/selftest.py --jvm    # also the engine-side fingerprint

Covers the input tables against their manifest, the union of stage
intervals and the no-stage time derived from it, span self time, the
percentile sample-count rule, quartile spread, the comparison verdicts,
and (with --jvm) that the result fingerprint ignores row order and
partitioning but not row content.
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import metrics  # noqa: E402


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(metrics.union([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9)]),
                         [(0, 4), (5, 7)])

    def test_covered_clips_to_window(self):
        self.assertEqual(metrics.covered((2, 10), [(0, 3), (2, 4), (8, 20)]), 2 + 2)
        self.assertEqual(metrics.covered((0, 1), [(5, 6)]), 0)


class SelfTime(unittest.TestCase):
    def test_children_overlapping_each_other_count_once(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "start": 10, "end": 40},
                 {"id": 3, "parent": 1, "start": 30, "end": 50},
                 {"id": 4, "parent": 2, "start": 15, "end": 20}]
        self.assertEqual(metrics.self_times(spans), {1: 60, 2: 25, 3: 20, 4: 5})


class Percentiles(unittest.TestCase):
    def test_tail_percentile_needs_ten_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, m, q3 = metrics.quartiles(xs)
        self.assertEqual((q1, m, q3), (1.5, 3.0, 4.5))
        self.assertAlmostEqual(metrics.spread(xs), 1.0)


def synthetic_result():
    """Two passes of one query, the second traced: the query span covers
    0..1000 ms, stages run 100..300 and 200..500 ms, so 400 ms of it has
    a stage running and 600 ms has none."""
    t0 = 1_000_000  # ms
    us = lambda ms: (t0 + ms) * 1000  # noqa: E731
    return {
        "passes": [{"traced": False, "start_us": us(-2000), "end_us": us(-1000),
                    "times": {"q": 1.1}, "codegen": [0, 0], "cpu": [2e9, 300, 0]},
                   {"traced": True, "start_us": us(0), "end_us": us(1100),
                    "times": {"q": 1.0}, "codegen": [2, 5e8], "cpu": [3e9, 300, 100]}],
        "spans": [[1, 0, "GraftSession.local", us(-9000), us(-8000), "setup1"],
                  [2, 0, "query:q", us(0), us(1000), "pass1"],
                  [3, 2, "SparkEntry.queries", us(0), us(50), "pass1"],
                  [4, 2, "action", us(50), us(1000), "pass1"],
                  [5, 0, "GraftSession.clearSessionState", us(1000), us(1100), "pass1"]],
        "stage_fields": ["id", "submitted_ms", "completed_ms", "tasks", "task_failures",
                         "run_ms", "cpu_ns", "gc_ms", "shuffle_write_b", "shuffle_read_b",
                         "spill_b", "input_b", "input_rows", "output_b", "output_rows",
                         "peak_exec_mem_b"],
        "stages": [[1, 0, t0 + 100, t0 + 300, 4, 0, 800, 4e8, 10, 0, 0, 0, 0, 0, 0, 0, 0],
                   [1, 1, t0 + 200, t0 + 500, 2, 1, 400, 2e8, 0, 0, 0, 0, 0, 0, 0, 0, 0]],
        "jobs": [[1, 0, "q", t0 + 100, [0, 1], t0 + 500]],
        "plans": [[t0 + 100, {"analysis": [t0 + 50, t0 + 60]}, {}]],
        "sql_starts": [], "streaming": [], "storage": [], "stored_bytes": {},
        "setup_s": [3.0, 1.0, 1.0], "codegen_setup": [30, 3e9], "cores": 2,
        "heap_mb": [90.0, 100.0], "peak_rss_mb": 500.0,
    }


class Layers(unittest.TestCase):
    def test_stage_union_and_no_stage_time(self):
        m = metrics.per_layer(synthetic_result())
        self.assertAlmostEqual(m["spark.stage_busy_s"], 0.4)
        self.assertAlmostEqual(m["spark.no_stage_s"], 0.6)
        self.assertAlmostEqual(m["spark.tasks_per_stage"], 3.0)
        self.assertAlmostEqual(m["spark.core_util"], 1.2 / (0.4 * 2))
        self.assertEqual(m["spark.task_failures"], 1)
        # the action's self time excludes its job (100..500 ms) and the
        # analysis phase (50..60 ms)
        self.assertAlmostEqual(m["action.self_s"], (950 - 400 - 10) / 1000.0)
        self.assertAlmostEqual(m["trace.overhead"], 1.0 / 1.1)
        self.assertAlmostEqual(m["GraftSession.start_s"], 1.0)
        self.assertAlmostEqual(m["jvm.cpu_s"], 3.0)
        self.assertAlmostEqual(m["jvm.steal_share"], 0.25)

    def test_end_to_end(self):
        e = metrics.end_to_end(synthetic_result())
        self.assertEqual(e["setup_s"], 1.0)
        self.assertEqual(e["wall_s"], 1.1)
        self.assertEqual(e["retained_heap_mb"], 100.0)


class Spec(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        spec = compare.load_spec()
        self.assertEqual(sorted(metrics.per_layer(synthetic_result())),
                         sorted(m["name"] for m in spec["per_layer"]))
        self.assertEqual(sorted(metrics.end_to_end(synthetic_result())),
                         sorted(m["name"] for m in spec["end_to_end"]))


class Inputs(unittest.TestCase):
    def test_every_workload_has_its_tables_as_in_the_manifest(self):
        import run
        for w in compare.load_spec()["workloads"]:
            self.assertTrue(os.path.isdir(run.inputs(w["name"])))


class Verdicts(unittest.TestCase):
    def test_rules(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
        faster = [x - 1.0 for x in parent]
        self.assertEqual(compare.verdict(parent, faster, "lower", 0.1)[0], "improved")
        self.assertEqual(compare.verdict(parent, parent, "lower", 0.1)[0], "no worse")
        self.assertEqual(compare.verdict(parent, [x * 1.5 for x in parent], "lower", 0.1)[0],
                         "worse")
        noisy = [5.0, 15.0] * 5
        self.assertEqual(compare.verdict(noisy, noisy, "lower", 0.1)[0], "unresolved")
        self.assertEqual(compare.verdict(parent, [x + 1.0 for x in parent], "higher", 0.1)[0],
                         "improved")


def jvm_fingerprint():
    import build
    import run
    classes = build.ensure()
    tmp = os.path.join(build.BUILD, "selftest")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp,
               SPARK_GRAFT_CONF=f"spark.sql.warehouse.dir={tmp}/warehouse")
    return subprocess.call(["java", "-Xmx1g", f"-Djava.io.tmpdir={tmp}"] + run.JDK17_OPENS +
                           ["-cp", build.classpath(classes), "graftbench.SelfTest"], env=env)


if __name__ == "__main__":
    jvm = "--jvm" in sys.argv
    ok = unittest.main(argv=[sys.argv[0]], exit=False).result.wasSuccessful()
    if jvm:
        ok = jvm_fingerprint() == 0 and ok
    sys.exit(0 if ok else 1)
