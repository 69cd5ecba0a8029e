"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py       # from the checkout root

The generator tests take seconds. The end-to-end test runs the benchmark
(three runs per workload, a few minutes each) and needs the Spark jars that
build.py compiles against. To run only the generator tests:

    python3 -m unittest perfbench.test_perfbench.GeneratorTest
"""

import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Per-layer counters that depend only on the inputs and the code, never on
# timing: jobs, tasks, files and filesystem operations.
DETERMINISTIC = [
    "ingestion.jobs_per_file", "ingestion.tasks", "ingestion.files_loaded",
    "ingestion.rows_loaded", "ingestion.skipped", "silver.batches",
    "silver.jobs_per_batch", "silver.tasks", "gold.jobs",
    "dashboard.jobs_per_query", "dashboard.tasks_per_query",
    "dashboard.summary_jobs_per_call", "dashboard.fs_ops_per_query",
    "catalog.read_ops", "catalog.list_ops", "catalog.write_ops",
    "catalog.files_written", "catalog.ledger_files", "stream.jobs_per_batch",
    "stream.state_files", "spark.jobs", "spark.stages", "spark.tasks",
]


def bench(workload, seed, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py failed:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_files(self):
        for workload in ("medallion", "stream_dedup"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                ta = gen.generate(a, workload, 7)
                tb = gen.generate(b, workload, 7)
                self.assertEqual(ta, tb)
                cmp = filecmp.dircmp(a, b)
                self.assertFalse(cmp.diff_files or cmp.left_only or cmp.right_only)

    def test_planted_edge_cases(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.generate(d, "medallion", 3)
            landing = os.path.join(d, "landing")
            with open(os.path.join(landing, "transactions", "transactions_2025.csv")) as f:
                tx = f.read()
            self.assertIn('"$', tx)          # $1,234.56 amounts, quoted
            self.assertIn(",NULL", tx)
            self.assertIn("TBD", tx)          # unparseable date
            self.assertIn("manual_logs_2025_fix.csv", truth["files"])
            with open(os.path.join(landing, "google_timeline",
                                   "google_timeline_2025.json")) as f:
                doc = f.read()
            for variant in ('"startLocation"', '"timelinePath"'):
                self.assertIn(variant, doc)
            self.assertGreater(truth["segment_types"]["dropped"], 0)
            # 1 Hz heart-rate bursts: Silver's minute groups hold many readings
            hr = truth["files"]["fitbit_heart_rate_2025.csv"]
            self.assertGreater(hr["bronze"], 20 * hr["silver"])


class EndToEndTest(unittest.TestCase):
    def test_traced_counters_repeat_and_second_seed_passes(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        layer_names = {m["name"] for m in spec["per_layer"]}
        e2e_names = {m["name"] for m in spec["end_to_end"]}
        for workload in ("medallion", "stream_dedup"):
            a = bench(workload, 11, 1)
            b = bench(workload, 11, 1)
            for r in (a, b):
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
                self.assertEqual(set(r["metrics"]), layer_names)
            for k in DETERMINISTIC:
                self.assertEqual(a["metrics"][k]["value"], b["metrics"][k]["value"],
                                 f"{workload}: {k} differs between traced runs")
            c = bench(workload, 12, 0)
            self.assertTrue(c["correct"])
            self.assertEqual(c["failed"], 0)
            self.assertEqual(set(c["metrics"]), e2e_names)
            self.assertTrue(all(m["value"] > 0 for m in c["metrics"].values()))


if __name__ == "__main__":
    unittest.main()
