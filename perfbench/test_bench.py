#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/test_bench.py

They use the `tiny` input size (a few seconds of work per JVM) and take
about eight minutes, most of it JVM start-up.
"""
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
# temporary dirs inside the checkout, like everything the benchmark writes
TMP = os.path.join(run.STATE, "tests")
os.makedirs(TMP, exist_ok=True)


def bench(workload, trace=0, corrupt=None, seed=3, seconds=1, cwd=ROOT):
    """Run the benchmark; return (exit code, parsed last line, detail)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--size", "tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    d = None
    if p.returncode == 0:
        with open(run.detail_path(workload, seed, trace)) as f:
            d = json.load(f)
    return p.returncode, last, d


class Smoke(unittest.TestCase):
    def test_every_end_to_end_metric_is_printed(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                code, out, _ = bench(w)
                self.assertEqual(code, 0)
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)
                self.assertGreaterEqual(out["attempted"], 1)
                want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
                self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
                self.assertTrue(all(v["value"] > 0 for v in out["metrics"].values()))

    def test_rounds_repeat_until_the_measured_seconds(self):
        # a tiny monthly round measures about 20 s, so 25 s needs a second
        code, out, d = bench("monthly_batch", seconds=25)
        self.assertEqual(code, 0)
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(len(d["rounds"]), 2)
        self.assertGreaterEqual(sum(r["wall_s"] for r in d["rounds"]), 25)
        self.assertEqual(out["attempted"], 4 * len(d["rounds"]))
        # set-up samples: the set-up-only JVMs, then one per round
        samples = d["setup_samples"]
        self.assertEqual(len(samples), run.SETUP_SAMPLES - 1 + len(d["rounds"]))
        self.assertEqual(out["metrics"]["setup_s"]["value"], statistics.median(samples))

    def test_declared_metrics_match_the_harness(self):
        self.assertEqual([m["name"] for m in SPEC["per_layer"]], run.per_layer_names())
        self.assertEqual([m["name"] for m in SPEC["end_to_end"]], list(run.E2E_UNITS))
        self.assertTrue({w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS))


class Negative(unittest.TestCase):
    def test_a_dropped_export_row_fails_the_check(self):
        code, out, _ = bench("monthly_batch", corrupt="export_row")
        self.assertEqual(code, 0)
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"] / out["attempted"], 0)
        self.assertEqual(out["metrics"]["cpu_s"]["value"], run.POISON)

    def test_a_flipped_delta_survivor_fails_the_check(self):
        code, out, _ = bench("delta_curate", corrupt="delta_survivor")
        self.assertEqual(code, 0)
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"] / out["attempted"], 0)

    def test_a_checkout_without_the_program_fails_fast(self):
        bare = tempfile.mkdtemp(dir=TMP)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "monthly_batch", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=bare, capture_output=True,
                           text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)
        self.assertLess(time.time() - t0, 180)


class Spans(unittest.TestCase):
    def test_step_spans_cover_the_pipeline_wall(self):
        for w, steps in (("monthly_batch", ["sinks.parquet_dump", "sinks.jsonl_dump",
                                             "processes.mq_reports", "sinks.sitemap"]),
                         ("delta_curate", ["processes.delta_bootstrap",
                                           "processes.delta_increment",
                                           "processes.delta_compact"])):
            with self.subTest(workload=w):
                code, out, d = bench(w, trace=1)
                self.assertEqual(code, 0)
                self.assertTrue(out["correct"])
                self.assertEqual(set(out["metrics"]), set(run.per_layer_names(w)))
                # wall_s is timed around the whole workload, apart from
                # the spans, so a gap between or after the steps shows
                wall = d["rounds"][0]["wall_s"]
                covered = sum(out["metrics"][f"{s}.wall_s"]["value"] for s in steps)
                self.assertLess(abs(covered - wall) / wall, 0.03)
                if w == "monthly_batch":
                    self.assertGreater(out["metrics"]["processes.mq_reports.scans"]["value"], 0)


class Inputs(unittest.TestCase):
    def digest(self, path):
        h = hashlib.sha256()
        for p in run.tree_files(path):
            with open(p, "rb") as f:
                h.update(f.read())
        return h.hexdigest()

    def test_a_changed_cached_input_is_regenerated(self):
        path, _ = run.inputs(None, "registry_sweep", 7, "tiny")
        table = os.path.join(path, "orders.parquet")
        with open(table, "rb") as f:
            good = f.read()
        with open(table, "ab") as f:
            f.write(b"edited by hand")
        self.assertFalse(run.cached(path))
        again, _ = run.inputs(None, "registry_sweep", 7, "tiny")
        self.assertEqual(again, path)
        with open(table, "rb") as f:
            self.assertEqual(f.read(), good)
        self.assertTrue(run.cached(path))

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        dirs = [tempfile.mkdtemp(dir=TMP) for _ in range(3)]
        for d, seed in zip(dirs, (5, 5, 6)):
            gen_tables.fixture_tables(seed, 0.001, d)
            gen_tables.delta_snapshots(seed, 20, 2, 5, d)
            gen_tables.monthly_records(seed, 20, 2, 8, d)
        self.assertEqual(self.digest(dirs[0]), self.digest(dirs[1]))
        self.assertNotEqual(self.digest(dirs[0]), self.digest(dirs[2]))


if __name__ == "__main__":
    unittest.main(verbosity=2)
