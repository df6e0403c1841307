"""Tests of run.py's result handling and of BENCHMARK.json's limits.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import unittest

import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class ResultTest(unittest.TestCase):
    def test_sbt_prefix_is_stripped(self):
        log = "\n".join([
            "[info] welcome to sbt",
            '[info] {"metric":"total","value":30.3,"unit":"sec"}',
            "[error] 26/10/17 INFO SparkContext: stopped",
            "[success] Total time: 40 s",
        ])
        self.assertEqual(run.last_json(log), {"metric": "total", "value": 30.3, "unit": "sec"})
        self.assertEqual(run.strip_sbt_prefix("[warn] x"), "x")
        self.assertEqual(run.strip_sbt_prefix("plain"), "plain")
        self.assertIsNone(run.last_json("[info] no json here\n[info] {broken"))

    def raw(self, trace, **override):
        names = run.spec()["per_layer" if trace else "end_to_end"]
        raw = {"correct": True, "attempted": 10, "failed": 0, "samples": {}, "detail": {},
               "metrics": {m["name"]: {"value": 1.25, "unit": m["unit"]} for m in names}}
        raw["metrics"].update(override)
        return raw

    def test_result_has_exactly_the_contract_keys(self):
        for trace in (False, True):
            got = run.contract_result(self.raw(trace), trace)
            self.assertEqual(list(got), ["correct", "attempted", "failed", "metrics"])
            want = [m["name"] for m in run.spec()["per_layer" if trace else "end_to_end"]]
            self.assertEqual(list(got["metrics"]), want)
            for v in got["metrics"].values():
                self.assertEqual(set(v), {"value", "unit"})

    def test_missing_or_bad_metric_is_refused(self):
        raw = self.raw(False)
        del raw["metrics"]["setup_s"]
        with self.assertRaises(ValueError):
            run.contract_result(raw, False)
        with self.assertRaises(ValueError):
            run.contract_result(self.raw(False, setup_s={"value": float("nan"), "unit": "s"}), False)
        with self.assertRaises(ValueError):
            run.contract_result(self.raw(False, setup_s={"value": 1.0, "unit": "ms"}), False)

    def test_failures_pass_through(self):
        raw = self.raw(False)
        raw.update(correct=False, attempted=40, failed=3)
        got = run.contract_result(raw, False)
        self.assertEqual((got["correct"], got["attempted"], got["failed"]), (False, 40, 3))


class SpecTest(unittest.TestCase):
    def test_benchmark_json_is_within_the_limits(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        self.assertLessEqual(os.path.getsize(path), 64 * 1024)
        s = run.spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(s["command"], ["python3", "perfbench/run.py"])
        self.assertTrue(1 <= s["run_seconds"] <= 60 and isinstance(s["run_seconds"], int))
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertEqual(set(run.JIT), {w["name"] for w in s["workloads"]})
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16 and 1 <= len(s["per_layer"]) <= 128)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in s[k]]
        self.assertEqual(len(names), len(set(names)))
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in s["end_to_end"])}])


if __name__ == "__main__":
    unittest.main()
