#!/usr/bin/env python3
"""Tests of the benchmark's result check, without Spark:

    python3 perfbench/test_run.py
"""
import contextlib
import io
import json
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
import run  # noqa: E402

HERE = Path(__file__).resolve().parent


def host(steal, total):
    return {"steal_jiffies": steal, "total_jiffies": total, "load1": 1.0}


def execution(gate, rows, error="", build=0.1, action=0.2):
    return {"gate": gate, "rows": rows, "error": error, "build_s": build, "plan_s": 0.05,
            "action_s": action, "sweep_s": 0.01, "jobs": 2, "self_s": {"build": 0.1}}


def record(execs, traced=False):
    return {"cpus": 4, "restart_s": {}, "peak_rss_mb": 900.0,
            "setup": {"spawn_ms": 0, "first_timed_ms": 12000, "compile_s": 1.5, "compiles": 40},
            "passes": [{"pass": 0, "traced": False, "start_ms": 12000, "end_ms": 14000,
                        "host_before": host(0, 100), "host_after": host(1, 200),
                        "execs": execs}] + ([{"pass": 1, "traced": True, "start_ms": 14000,
                                             "end_ms": 16000, "host_before": host(1, 200),
                                             "host_after": host(3, 300),
                                             "execs": [dict(e) for e in execs]}] if traced else [])}


def summary(rec, expected, trace=0):
    with contextlib.redirect_stdout(io.StringIO()):
        return run.summarize(run.check(rec, expected), trace)


class CheckTest(unittest.TestCase):

    def test_matching_counts_pass(self):
        r = summary(record([execution("a", 5), execution("b", 7)]), {"a": 5, "b": 7})
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (True, 2, 0))
        self.assertAlmostEqual(r["metrics"]["gates_per_s"]["value"], 1.0)
        self.assertAlmostEqual(r["metrics"]["setup_s"]["value"], 12.0)

    def test_wrong_expected_count_counts_in_fail_share(self):
        out = io.StringIO()
        rec = run.check(record([execution("a", 5), execution("b", 7)]), {"a": 5, "b": 8})
        with contextlib.redirect_stdout(out):
            r = run.summarize(rec, 0)
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (False, 2, 1))
        self.assertIn("fail_share: 0.5000", out.getvalue())
        self.assertIn("host steal_share: 0.0100", out.getvalue())
        # only the correct execution counts as completed work
        self.assertAlmostEqual(r["metrics"]["gates_per_s"]["value"], 0.5)

    def test_exception_is_a_failure_even_with_matching_rows(self):
        r = summary(record([execution("a", 5, error="boom")]), {"a": 5})
        self.assertEqual(r["failed"], 1)

    def test_traced_run_reports_every_per_layer_metric(self):
        r = summary(record([execution("a", 5), execution("b", 7)], traced=True),
                    {"a": 5, "b": 7}, trace=1)
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual(set(r["metrics"]), {m["name"] for m in bench["per_layer"]})
        for m in bench["per_layer"]:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])
        self.assertAlmostEqual(r["metrics"]["host.steal_share"]["value"], 0.02)

    def test_untraced_run_reports_every_end_to_end_metric(self):
        r = summary(record([execution("a", 5)]), {"a": 5})
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual(set(r["metrics"]), {m["name"] for m in bench["end_to_end"]})

    def test_families_partition_every_gate_once(self):
        families, workloads = run.load_workloads()
        gates = [g for f in families.values() for g in f]
        self.assertEqual(len(gates), len(set(gates)))
        self.assertEqual(len(gates), 275)
        for w in workloads.values():
            self.assertTrue(set(w["timed"]) <= set(gates))

    def test_benchmark_names_every_workload(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(run.load_workloads()[1]))


if __name__ == "__main__":
    unittest.main()
