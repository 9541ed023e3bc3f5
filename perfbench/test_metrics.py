"""Tests of the benchmark's own arithmetic and declaration.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import tempfile
import unittest

import metrics
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileRule(unittest.TestCase):
    def test_median_needs_twenty_samples(self):
        self.assertIsNone(metrics.highest_supported(19))
        self.assertEqual(metrics.highest_supported(20), 50)

    def test_p75_needs_forty_samples(self):
        self.assertEqual(metrics.highest_supported(39), 50)
        self.assertEqual(metrics.highest_supported(40), 75)

    def test_ten_samples_lie_beyond_every_supported_percentile(self):
        for n in range(1, 400):
            p = metrics.highest_supported(n)
            if p is None:
                self.assertLess(n, 20)
                continue
            xs = sorted(range(n))
            cut = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
            self.assertGreaterEqual(sum(1 for x in xs if x > cut), metrics.MIN_BEYOND)


class WriteAmplification(unittest.TestCase):
    def test_written_once_is_one(self):
        self.assertEqual(metrics.write_amplification(1000, 1000), 1.0)

    def test_whole_table_swap_grows_with_batches(self):
        # a table rewritten whole after each of n equal appends writes
        # 1 + 2 + ... + n parts of a final size of n parts
        n, part = 10, 100
        written = sum(k * part for k in range(1, n + 1))
        self.assertEqual(metrics.write_amplification(written, n * part), (n + 1) / 2)

    def test_empty_sink_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.write_amplification(10, 0)


class FailureCounting(unittest.TestCase):
    def test_each_failed_operation_counts_once(self):
        self.assertEqual(metrics.count_failures(20, [3, 3, 7]), (20, 2))

    def test_no_failures(self):
        self.assertEqual(metrics.count_failures(5, []), (5, 0))

    def test_more_failures_than_attempts_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.count_failures(1, [0, 1])


class FinalState(unittest.TestCase):
    def test_last_batch_of_each_query_counts(self):
        batches = [
            {"query_id": "a", "batch_id": 2, "state_rows": 5, "state_bytes": 50},
            {"query_id": "a", "batch_id": 3, "state_rows": 7, "state_bytes": 70},
            {"query_id": "b", "batch_id": 1, "state_rows": 1, "state_bytes": 10},
        ]
        self.assertEqual(metrics.final_state(batches), (8, 80))

    def test_no_batches_is_no_state(self):
        self.assertEqual(metrics.final_state([]), (0, 0))


class Declaration(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_workloads_match_the_runner(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))

    def test_end_to_end_names_match_the_report(self):
        fake = {"setup_s": [1.0], "warmup_s": 1.0, "items": 10, "wall_s": 2.0,
                "op_s": [1.0], "retained_heap_mb": 100.0}
        got = run.end_to_end(fake)
        want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)

    def traced(self, workload, baseline_wall_s):
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            f.write(json.dumps({"kind": "job", "module": "IngestPipeline",
                                "owner": "compute"}) + "\n")
            f.write(json.dumps({"kind": "stage", "module": "IngestPipeline",
                                "owner": "compute", "tasks": 1, "executor_ms": 5,
                                "shuffle_read": 0, "shuffle_write": 0, "output": 0,
                                "spill": 0}) + "\n")
            f.write(json.dumps({"kind": "batch", "query_id": "q", "batch_id": 1,
                                "rows": 10, "trigger_ms": 900, "add_batch_ms": 500,
                                "state_rows": 1, "state_bytes": 1}) + "\n")
        self.addCleanup(os.remove, f.name)
        storage = {f"{t}.{k}.{x}": 1 for t in run.TOPICS for k in run.INGEST_SINKS
                   for x in ("files", "bytes")}
        storage.update({f"{i}.{x}": 1 for i in ("DedupIndex", "StreamingNearDup",
                        "SubstringIndex", "WinnowIndex") for x in ("files", "bytes")})
        storage["progress.files"] = 1
        passes = {"wall_s": 2.0, "op_s": [1.0], "warmup_s": 1.0, "items": 10,
                  "spans": f.name, "storage": storage,
                  "counts": {"records": 10, "redelivered": 1, "invalid": 1,
                             "suppressed_copies": 1}}
        return run.per_layer({
            "workload": workload, "nproc": 4, "cpu_mhz_start": 1.0, "cpu_mhz_end": 1.0,
            "loadavg_start": 0.0, "peak_rss_mb": 1.0, "traced": passes, "local1": passes,
            "baseline_wall_s": baseline_wall_s})

    def test_per_layer_names_match_the_report(self):
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        for workload in run.WORKLOADS:
            got = {k: u for k, (_, u) in self.traced(workload, 1.6).items()}
            self.assertEqual(got, want, workload)

    def test_overhead_against_the_untraced_wall_time(self):
        got = self.traced("ingest", 1.6)
        self.assertAlmostEqual(got["trace.overhead_pct"][0], 25.0)
        self.assertAlmostEqual(got["engine.overhead_s"][0], 0.4)

    def test_overhead_absent_without_an_untraced_run(self):
        self.assertNotIn("trace.overhead_pct", self.traced("admission", None))

    def test_bounds_are_within_the_contract(self):
        for m in self.bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
