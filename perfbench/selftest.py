#!/usr/bin/env python3
"""Self-tests for the benchmark's own logic: the percentile rule, call-site
attribution against call sites recorded from real runs, and the open-loop
latency/lateness accounting.

    python3 perfbench/selftest.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402


def site(*frames):
    return "\n".join(frames)


# Call sites as the listener recorded them (innermost frame first).
RUN_CYCLES_READ = site(
    "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
    "graft.streaming.ChangeRelay.runCycles(Relay.scala:65)",
    "perfbench.Fanout$.$anonfun$run$7(Fanout.scala:80)")
HORIZON = site(
    "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
    "graft.streaming.ChangeRelay$.defaultHorizon(Relay.scala:320)",
    "graft.streaming.ChangeRelay$.$anonfun$$lessinit$greater$default$5$1(Relay.scala:26)",
    "graft.streaming.ChangeRelay.cycleCore(Relay.scala:117)")
STATS = site(
    "org.apache.spark.sql.Dataset.head(Dataset.scala:2683)",
    "graft.streaming.ChangeRelay.cycleCore(Relay.scala:130)",
    "graft.streaming.ChangeRelay.$anonfun$runCycles$2(Relay.scala:81)")
NUMBERING = site(
    "org.apache.spark.sql.classic.Dataset.rdd(Dataset.scala:1612)",
    "graft.ops.Windows$.numberBatchesRange(Windows.scala:45)",
    "graft.streaming.ChangeRelay.cycleCore(Relay.scala:150)")
EXPORT = site(
    "org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)",
    "graft.streaming.ChangeRelay.cycleCore(Relay.scala:174)",
    "graft.streaming.ChangeRelay.$anonfun$runCycles$2(Relay.scala:81)")
PROBE = site(
    "org.apache.spark.sql.classic.Dataset.isEmpty(Dataset.scala:558)",
    "graft.streaming.ChangeRelay.cycleCore(Relay.scala:178)")
WM_COMMIT = site(
    "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
    "graft.state.ParquetStateStore.commit(Stores.scala:65)",
    "graft.state.ParquetStateStore.setWatermarks(Stores.scala:112)",
    "graft.streaming.ChangeRelay.runCycles(Relay.scala:86)")
DLQ_COMMIT = site(
    "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
    "graft.state.ParquetStateStore.commit(Stores.scala:65)",
    "graft.state.ParquetStateStore.appendDeadLetters(Stores.scala:177)",
    "graft.streaming.ChangeRelay.cycleCore(Relay.scala:186)")
REPLAY_PURGE = site(
    "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)",
    "graft.state.ParquetStateStore.purgeExpiredDeadLetters(Stores.scala:200)",
    "graft.streaming.ChangeRelay.replayCycle(Relay.scala:214)",
    "perfbench.Fanout$.replay$1(Fanout.scala:71)")
ASYNC_POOL = site(
    "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)",
    "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)",
    "java.base/java.lang.Thread.run(Thread.java:840)")
BENCH_ONLY = site(
    "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)",
    "perfbench.Fanout$.run(Fanout.scala:136)")


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(M.highest_supported_percentile(19))
        self.assertEqual(M.highest_supported_percentile(20), 50)
        self.assertEqual(M.highest_supported_percentile(40), 75)
        self.assertEqual(M.highest_supported_percentile(99), 75)
        self.assertEqual(M.highest_supported_percentile(100), 90)
        self.assertEqual(M.highest_supported_percentile(240), 95)
        self.assertEqual(M.highest_supported_percentile(1000), 99)
        self.assertEqual(M.highest_supported_percentile(10000), 99.9)

    def test_interpolated_percentile(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(M.percentile(xs, 0), 1.0)
        self.assertEqual(M.percentile(xs, 50), 3.0)
        self.assertEqual(M.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(M.percentile(xs, 90), 4.6)
        self.assertEqual(M.median([2.0, 4.0]), 3.0)
        with self.assertRaises(ValueError):
            M.percentile([], 50)


class Attribution(unittest.TestCase):
    def test_recorded_call_sites(self):
        cases = {
            RUN_CYCLES_READ: "state.read_s",
            HORIZON: "ops.horizon_probe_s",
            STATS: "ops.incremental_read_s",
            NUMBERING: "ops.batch_number_s",
            EXPORT: "sinks.export_s",
            PROBE: "sinks.failure_probe_s",
            WM_COMMIT: "state.watermark_commit_s",
            DLQ_COMMIT: "state.dlq_append_s",
            REPLAY_PURGE: "state.replay_s",
        }
        for cs, phase in cases.items():
            self.assertEqual(M.attribute(cs), phase, cs)

    def test_unmatched_work_stays_visible(self):
        self.assertEqual(M.attribute(ASYNC_POOL), M.UNATTRIBUTED)
        self.assertEqual(M.attribute(BENCH_ONLY), M.UNATTRIBUTED)
        self.assertEqual(M.attribute(""), M.UNATTRIBUTED)

    def test_generic_helper_falls_through_to_its_caller(self):
        # commit() itself has no rule; the method that called it decides.
        self.assertNotEqual(M.attribute(WM_COMMIT), M.attribute(DLQ_COMMIT))

    def test_every_phase_is_reachable(self):
        self.assertEqual(set(M.PHASES), {r[2] for r in M.RULES})


class Spec(unittest.TestCase):
    def test_benchmark_json_names_what_the_runner_reports(self):
        import json
        import run
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in spec["per_layer"]], run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        for m in spec["per_layer"]:
            self.assertEqual(m["unit"], run.unit_of(m["name"]), m["name"])


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_due_time_not_send_time(self):
        commits = [
            # on time
            {"due_ms": 0, "actual_ms": 0, "delivered_ms": 1500},
            # the generator ran 2 s late: the wait still counts
            {"due_ms": 1000, "actual_ms": 3000, "delivered_ms": 4000},
            # never delivered
            {"due_ms": 2000, "actual_ms": 2001, "delivered_ms": -1},
        ]
        lat, late, undelivered = M.open_loop(commits)
        self.assertEqual(lat, [1.5, 3.0])
        self.assertEqual(late, [0.0, 2.0, 0.001])
        self.assertEqual(undelivered, 1)

    def test_early_clock_reads_are_not_negative_lateness(self):
        _, late, _ = M.open_loop([{"due_ms": 500, "actual_ms": 499, "delivered_ms": 900}])
        self.assertEqual(late, [0.0])

    def test_unstaged_commit_has_no_lateness_sample(self):
        _, late, undelivered = M.open_loop([{"due_ms": 0, "actual_ms": -1, "delivered_ms": -1}])
        self.assertEqual(late, [])
        self.assertEqual(undelivered, 1)


if __name__ == "__main__":
    unittest.main()
