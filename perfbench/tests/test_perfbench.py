"""Tests of the benchmark itself.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The Scala-side tests (digest, generator, failure accounting, metric
printing) run through `perfbench/run.py --selftest`, which builds first.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tsv(name):
    with open(os.path.join(ROOT, "perfbench", "data", name)) as f:
        return [l.rstrip("\n").split("\t") for l in f if l.strip() and not l.startswith("#")]


class BenchmarkJsonTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(s["paths"], ["perfbench"])
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in s[k]]
        self.assertEqual(len(names), len(set(names)), "a name is used twice")
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_every_query_assigned_once_by_module(self):
        etl = {"Transforms", "Aggregates", "Relational", "TimeOps", "AsOf", "Sampling",
               "Features"}
        rows = tsv("queries.tsv")
        names = [r[0] for r in rows]
        self.assertEqual(len(names), len(set(names)))
        for name, group, module in rows:
            self.assertEqual(group, "etl" if module in etl else "curation", name)
        panel = [r[:2] for r in tsv("panel.txt")]
        module = {r[0]: r[2] for r in rows}
        self.assertEqual(sorted(m for _, m in panel), sorted(set(module.values())))
        for name, m in panel:
            self.assertEqual(module[name], m, name)
        with open(os.path.join(ROOT, "perfbench", "data", "expected_sf0.01.json")) as f:
            self.assertEqual(set(json.load(f)["queries"]), set(names))


class HarnessTest(unittest.TestCase):
    def test_selftest(self):
        r = subprocess.run([sys.executable, RUN, "--selftest"], capture_output=True,
                           text=True, timeout=1500)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertIn(" 0 failed", r.stdout)

    def test_fails_without_the_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_out", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pipelines",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"metrics"', r.stdout)


if __name__ == "__main__":
    unittest.main()
