#!/usr/bin/env python3
"""Tests of the benchmark itself.

Run from the repository root:
  python3 -m unittest perfbench/test_perfbench.py

They build the harness if needed (see build.py), then check the input
generator's determinism, the statistics and naming rules, a smoke run of
every workload, and that the benchmark refuses to run without the program.
"""
import hashlib
import json
import pathlib
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
SPEC = json.loads((build.ROOT / "BENCHMARK.json").read_text())


def harness(*args):
    cmd = build.java_command(build.build(), "perfbench.Main",
                             [*args, "--bench-dir", str(HERE)])
    return subprocess.run(cmd, cwd=build.ROOT, capture_output=True,
                          text=True, timeout=300)


def tree_digest(root):
    h = hashlib.sha256()
    for f in sorted(p for p in root.rglob("*") if p.is_file()):
        h.update(f.relative_to(root).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def bench(workload, trace=0, cwd=build.ROOT, runner=HERE / "run.py"):
    return subprocess.run(
        [sys.executable, str(runner), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=400)


class GeneratorTest(unittest.TestCase):

    def generate(self, tmp, name, seed):
        out = pathlib.Path(tmp) / name
        done = harness("--mode", "gen", "--workload", "ingest_daily",
                       "--seed", str(seed), "--out", str(out))
        self.assertEqual(done.returncode, 0, done.stderr[-2000:])
        return out

    def test_same_seed_gives_byte_identical_trees(self):
        build.OUT.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build.OUT) as tmp:
            a = self.generate(tmp, "a", 7)
            b = self.generate(tmp, "b", 7)
            c = self.generate(tmp, "c", 8)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))
            m = json.loads((a / "manifest.json").read_text())
            outcomes = {s["outcome"] for s in m["sims"]}
            self.assertEqual(outcomes, {"ok", "missing_column", "id_mismatch"})
            self.assertTrue(m["late_metadata"])
            self.assertEqual(len(m["quarantined"]),
                             sum(s["outcome"] != "ok" for s in m["sims"]))
            self.assertEqual(m["fact_rows"], sum(
                s["rows"] for s in m["sims"] if s["outcome"] == "ok"))


class RulesTest(unittest.TestCase):

    def test_harness_self_checks(self):
        """Median, the tail rule and its n, interval union, call-site
        parsing and metric-name rules, checked inside the harness."""
        done = harness("--mode", "selftest")
        self.assertEqual(done.returncode, 0, done.stdout + done.stderr[-2000:])
        self.assertNotIn("FAIL", done.stdout)

    def test_benchmark_json_names_and_units(self):
        metrics = SPEC["end_to_end"] + SPEC["per_layer"]
        names = [m["name"] for m in metrics + SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(NAME.fullmatch(n), n)
        for m in metrics:
            self.assertTrue(UNIT.fullmatch(m["unit"]), m)
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in SPEC["end_to_end"])},
                      SPEC["end_to_end"])


class SmokeTest(unittest.TestCase):
    """Tiny inputs: a few hundred kB of ingest and the first three queries
    of query_mix.json."""

    def result(self, done):
        self.assertEqual(done.returncode, 0, done.stderr[-3000:])
        lines = done.stdout.strip().splitlines()
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], detail["check_failures"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertIn("tail_percentile", detail)
        self.assertIn("tail_n", detail)
        return result

    def test_every_workload_untraced(self):
        want = [m["name"] for m in SPEC["end_to_end"]]
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = self.result(bench(w["name"]))
                self.assertEqual(list(r["metrics"]), want)
                for m in r["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_traced_run_reports_every_layer_metric(self):
        want = [m["name"] for m in SPEC["per_layer"]]
        r = self.result(bench("ingest_daily", trace=1))
        self.assertEqual(list(r["metrics"]), want)
        self.assertGreater(r["metrics"]["pipeline.jobs"]["value"], 0)
        self.assertGreater(r["metrics"]["spark.executor_run_s"]["value"], 0)

    def test_traced_query_mix_reaches_the_plans_layer(self):
        """The smoke list holds q46, whose AsOfJoinExec jobs are `plans`'."""
        r = self.result(bench("query_mix", trace=1))
        for layer in ("queries", "plans"):
            self.assertGreater(r["metrics"][f"{layer}.jobs"]["value"], 0, layer)


class StandaloneTest(unittest.TestCase):

    def test_refuses_to_run_without_the_program(self):
        build.OUT.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build.OUT) as tmp:
            shutil.copy(build.ROOT / "BENCHMARK.json", tmp)
            shutil.copytree(HERE, pathlib.Path(tmp) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            done = bench("query_mix", cwd=tmp,
                         runner=pathlib.Path(tmp) / "perfbench" / "run.py")
            self.assertNotEqual(done.returncode, 0)
            self.assertEqual(done.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
