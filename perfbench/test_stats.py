"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_no_p90_below_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(99))))
        self.assertIsNone(stats.tail(list(range(40))))

    def test_p90_with_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), 90)
        self.assertEqual(stats.tail(list(reversed(xs))), 90)

    def test_tail_on_a_mode_boundary_is_refused(self):
        # A tenth of the samples share one slow value: the p90 lands on
        # that mode's edge and nothing lies strictly beyond it.
        xs = [100.0] * 90 + [600.0] * 10
        self.assertIsNone(stats.tail(xs))
        xs = [100.0] * 85 + [600.0] * 15
        self.assertIsNone(stats.tail(xs))

    def test_other_quantiles(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.tail(xs, q=0.95), 190)
        self.assertIsNone(stats.tail(xs, q=0.99))
        self.assertIsNone(stats.tail([]))


class IntervalUnion(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(stats.interval_union([(0, 10), (20, 25)]), 15)

    def test_overlapping_and_nested(self):
        self.assertEqual(stats.interval_union([(0, 10), (5, 15), (6, 7)]), 15)
        self.assertEqual(stats.interval_union([(30, 40), (0, 100)]), 100)

    def test_touching_and_unsorted(self):
        self.assertEqual(stats.interval_union([(10, 20), (0, 10)]), 20)

    def test_empty_and_degenerate(self):
        self.assertEqual(stats.interval_union([]), 0)
        self.assertEqual(stats.interval_union([(5, 5), (7, 3)]), 0)

    def test_driver_time_is_wall_minus_union(self):
        raw = {
            "ops": [{"id": 0, "op": "append", "round": 1, "start_ms": 1000,
                     "end_ms": 1100, "wall_ms": 100.25, "ok": True}],
            "jobs": [
                {"op": 0, "start_ms": 1010, "end_ms": 1040, "tasks": 2, "shuffle_bytes": 5,
                 "call_sites": ["graft.files.TransactionalWrite$.writeFiles(X.scala:1)"]},
                {"op": 0, "start_ms": 1030, "end_ms": 1050, "tasks": 1, "shuffle_bytes": 0,
                 "call_sites": []},
                # Clipped to the op's window.
                {"op": 0, "start_ms": 1090, "end_ms": 1120, "tasks": 1, "shuffle_bytes": 0,
                 "call_sites": ["graft.log.GraftLog.checkpoint(GraftLog.scala:9)"]},
            ],
        }
        (inst,) = stats.op_instances(raw)
        self.assertEqual(inst["spark.jobs"], 3)
        self.assertEqual(inst["spark.tasks"], 4)
        self.assertEqual(inst["spark.job_ms"], 50)
        self.assertAlmostEqual(inst["driver_ms"], 50.25)
        self.assertEqual(inst["files.job_ms"], 30)
        self.assertEqual(inst["exec.job_ms"], 20)
        self.assertEqual(inst["log.job_ms"], 10)


AQE_THREAD = """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
java.base/java.lang.Thread.run(Thread.java:840)"""

WRITE = """org.apache.spark.sql.execution.datasources.FileFormatWriter$.write(FileFormatWriter.scala:192)
graft.files.TransactionalWrite$.writeFiles(TransactionalWrite.scala:239)
graft.tx.OptimisticTransaction.writeFiles(OptimisticTransaction.scala:197)
graft.commands.WriteIntoGraft$.run(WriteIntoGraft.scala:157)
perfbench.Ingest.append(Ingest.scala:70)"""

COLD_SNAPSHOT = """scala.collection.convert.JavaCollectionWrappers$IteratorWrapper.hasNext(JavaCollectionWrappers.scala:32)
graft.log.Snapshot$.build(GraftLog.scala:1407)
graft.log.GraftLog.refreshFromStore(GraftLog.scala:104)"""

BENCH_ACTION = """org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)
perfbench.Tables$.read(Tables.scala:80)
perfbench.Ingest.freshRead(Ingest.scala:88)"""

MERGE = """org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)
graft.commands.MergeCommand$.runInternal(MergeCommand.scala:210)
graft.GraftTable.merge(GraftTable.scala:68)"""

API = """org.apache.spark.sql.Dataset.count(Dataset.scala:3600)
graft.GraftTable.history(GraftTable.scala:117)"""

COMPONENTS = """org.apache.spark.rdd.RDD.count(RDD.scala:1300)
graft.ml.Clustering$.$anonfun$connectedComponents$3(Clustering.scala:120)
graft.ml.Clustering$.keepBest(Clustering.scala:222)"""

KERNEL = """org.apache.spark.rdd.RDD.count(RDD.scala:1300)
graft.expressions.VectorKernels$.mix(VectorKernels.scala:10)"""


class ModuleAttribution(unittest.TestCase):
    def test_fixed_call_sites(self):
        cases = [
            (AQE_THREAD, "exec"), (WRITE, "files"), (COLD_SNAPSHOT, "log"),
            (BENCH_ACTION, "exec"), (MERGE, "commands"), (API, "api"),
            (COMPONENTS, "ml"), (KERNEL, "other"), ("", "exec"),
            ("  at graft.stats.StatsSkipping$.prune(StatsSkipping.scala:80)", "stats"),
        ]
        for site, want in cases:
            self.assertEqual(stats.module_of(site), want, site)

    def test_job_takes_first_stage_naming_a_module(self):
        self.assertEqual(stats.job_module({"call_sites": [AQE_THREAD, MERGE]}), "commands")
        self.assertEqual(stats.job_module({"call_sites": [AQE_THREAD]}), "exec")
        self.assertEqual(stats.job_module({"call_sites": []}), "exec")

    def test_frame_split_matches_components_only(self):
        _, frame = stats.FRAME_SPLITS["ml.components_ms"]
        self.assertTrue(frame.search(COMPONENTS))
        self.assertFalse(frame.search(MERGE))


class Control(unittest.TestCase):
    def test_operation_judged_against_controls_on_both_sides(self):
        raw = {"ops": [{"id": i, "op": "append", "round": 1, "start_ms": 0, "end_ms": 1,
                        "wall_ms": 300.0, "ok": True} for i in range(2)],
               "samples": {"control_ms": [[0, 100.0], [1, 200.0], [2, 400.0]]}}
        first, second = stats.op_instances(raw)
        self.assertEqual(first["control_ms"], 150.0)
        self.assertEqual(second["control_ms"], 300.0)
        self.assertEqual(stats.per_op_metrics(raw)["append_p50_rel"], 1.5)

    def test_last_operation_without_closing_control(self):
        self.assertEqual(stats._around({0: 100.0}, 0), 100.0)
        self.assertIsNone(stats._around({}, 0))


class Reduction(unittest.TestCase):
    def test_counts_from_first_round_times_from_all(self):
        insts = [{"round": 1, "spark.jobs": 2, "driver_ms": 10.0},
                 {"round": 2, "spark.jobs": 9, "driver_ms": 30.0},
                 {"round": 2, "spark.jobs": 9, "driver_ms": 50.0}]
        self.assertEqual(stats._reduce("spark.jobs", insts), 2)
        self.assertEqual(stats._reduce("driver_ms", insts), 30.0)

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([9, 10, 10, 10, 11]), 0.1)


if __name__ == "__main__":
    unittest.main()
