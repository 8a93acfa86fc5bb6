#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/test_perfbench.py

- The checker counts a deliberately corrupted result as failed, both
  on its own and in a real run (`run.py --corrupt`).
- One command prints every end-to-end metric by name with its unit for
  every workload, and the traced run prints every per-layer metric.
- BENCHMARK.json is well formed.

The runs are short (2 s windows); the whole test takes a few minutes.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def bench(workload, trace=0, corrupt=False, seconds=2, seed=7):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)] + (["--corrupt"] if corrupt else [])
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


class CheckerTest(unittest.TestCase):
    def test_oracle_compare_catches_a_changed_row(self):
        import pandas as pd
        oracle = pd.DataFrame({"b": [2.5, 1.0], "a": ["x", "y"]})
        same = pd.DataFrame({"a": ["y", "x"], "b": [1.0, 2.5]})  # other order, same rows
        corrupted = same.copy()
        corrupted.iloc[0, 1] = 1.0000000000000002
        self.assertTrue(run.same_result(same, oracle))
        self.assertFalse(run.same_result(corrupted, oracle))

    def test_failed_checks_count_in_failed_and_ratio(self):
        ops = [{"name": "q", "kind": "read", "ms": 10.0 + i, "ok": i != 3, "bytes": 100,
                "traced": False, "pass": 0, "timed": True} for i in range(30)]
        raw = {"workload": "scan", "ops": ops, "checks": [{"name": "final", "ok": False}],
               "setup_s": [1.0, 2.0, 3.0], "window_s": 1.0, "space_amp": 1.0,
               "heap_peak_mb": 10.0, "probe_ms": 5.0}
        m, extra, attempted, failed = run.end_to_end(raw)
        self.assertEqual((attempted, failed), (31, 2))
        self.assertAlmostEqual(m["failed_ratio"], 2 / 31)
        self.assertEqual(m["setup_s"], 2.0)
        # 30 samples: the 20th smallest is the highest with 10 beyond it
        self.assertEqual((extra["op_tail_pct"], extra["op_tail_beyond"]), (66.7, 10))
        self.assertEqual(m["op_tail_ms"], 29.0)

    def test_corrupted_result_in_a_run_is_counted_failed(self):
        for workload in ("mutate", "pipeline"):
            with self.subTest(workload=workload):
                _, result = bench(workload, corrupt=True, seconds=1)
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)


class MetricsTest(unittest.TestCase):
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    def test_every_metric_printed_with_its_unit(self):
        e2e = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        for workload in run.WORKLOADS:
            with self.subTest(workload=workload):
                report, result = bench(workload)
                self.assertTrue(result["correct"], result)
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, e2e)
                for v in result["metrics"].values():
                    self.assertGreater(v["value"], 0)
                self.assertEqual({k: v["unit"] for k, v in report["metrics"].items()},
                                 run.REPORT_UNITS)
                self.assertEqual(report["metrics"]["failed_ratio"]["value"], 0.0)
                for key in ("seed", "nproc", "master", "clients", "loop", "load1_start"):
                    self.assertIn(key, report["run"])
                self.assertEqual(report["run"]["master"], f"local[{report['run']['nproc']}]")

    def test_traced_run_prints_every_layer_metric(self):
        per_layer = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        report, result = bench("scan", trace=1)
        self.assertTrue(result["correct"])
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, per_layer)
        layer = report["layer"]
        for name in ("self_ms.bench", "self_ms.sources", "self_ms.scbf", "trace.overhead_ms",
                     "scbf.pruned_read_bytes_ratio", "sources.plan_ms", "jvm.gc_ms"):
            self.assertIn(name, layer)
        self.assertGreater(layer["sources.plan_ms"], 0)
        self.assertGreater(layer["scbf.decode_mb_per_s.utf8"], 0)

    def test_pruned_read_bytes_repeat_exactly(self):
        a, _ = bench("ingest", trace=1, seed=1, seconds=1)
        b, _ = bench("ingest", trace=1, seed=2, seconds=1)
        for k in ("scbf.pruned_read_bytes", "scbf.file_bytes", "scbf.pruned_read_bytes_ratio"):
            self.assertEqual(a["layer"][k], b["layer"][k])
        self.assertLess(a["layer"]["scbf.pruned_read_bytes_ratio"], 1.0)

    def test_spec_is_well_formed(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end",
                                  "per_layer"})
        self.assertEqual([w["name"] for w in s["workloads"]], list(run.WORKLOADS))
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", names)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})


if __name__ == "__main__":
    unittest.main(verbosity=2)
