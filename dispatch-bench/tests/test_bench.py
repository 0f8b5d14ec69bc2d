#!/usr/bin/env python3
"""Tests of the dispatch benchmark itself.

    python3 dispatch-bench/tests/test_bench.py

They run the real command (each workload once with --trace 0 and once with
--trace 1, one second each), so they take several minutes. Scratch copies
go under dispatch-bench/.work/tests/.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
SCRATCH = os.path.join(BENCH, ".work", "tests")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

_runs = {}


def run_command(cwd, *args, timeout=900):
    cmd = list(SPEC["command"]) + list(args)
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=timeout)


def result(workload, trace):
    """The parsed result line of one short run, run once per test session."""
    key = (workload, trace)
    if key not in _runs:
        r = run_command(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace))
        if r.returncode != 0:
            raise AssertionError(f"{workload} --trace {trace} exited {r.returncode}:\n{r.stderr[-3000:]}")
        _runs[key] = json.loads(r.stdout.strip().splitlines()[-1])
    return _runs[key]


def copy_repo(dest, with_engine=True):
    """BENCHMARK.json, the benchmark directory (without build and work
    outputs) and, unless told otherwise, the engine sources."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(dest, p), ignore=shutil.ignore_patterns(".build", ".work"))
    if with_engine:
        shutil.copytree(os.path.join(ROOT, "src", "main"), os.path.join(dest, "src", "main"))


class BenchmarkJsonMatchesProgram(unittest.TestCase):
    def test_names_and_units(self):
        for w in SPEC["workloads"]:
            for trace, declared in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    got = result(w["name"], trace)
                    self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
                    self.assertEqual({k: v["unit"] for k, v in got["metrics"].items()},
                                     {m["name"]: m["unit"] for m in declared})
                    self.assertTrue(got["correct"], got)
                    self.assertGreaterEqual(got["attempted"], 1)

    def test_end_to_end_metrics_are_never_zero(self):
        for w in SPEC["workloads"]:
            for name, m in result(w["name"], 0)["metrics"].items():
                self.assertGreater(m["value"], 0, f"{w['name']} {name}")

    def test_decode_sites(self):
        sites = lambda w: result(w, 1)["metrics"]["plans.decode_sites"]["value"]
        self.assertEqual(sites("replay-proto-8"), 1)
        self.assertEqual(sites("topic-consumer-64"), 2)


class TraceArtifacts(unittest.TestCase):
    def test_self_times_within_traced_wall_time(self):
        for w in SPEC["workloads"]:
            result(w["name"], 1)
            d = os.path.join(BENCH, ".work", "trace", w["name"])
            with open(os.path.join(d, "plan.txt")) as fh:
                self.assertIn("Physical Plan", fh.read())
            with open(os.path.join(d, "spans.jsonl")) as fh:
                spans = [json.loads(line) for line in fh if line.strip()]
            roots = [s for s in spans if s["parent"] < 0]
            self.assertEqual(len(roots), 1)
            wall = roots[0]["end_us"] - roots[0]["start_us"]
            child = {}
            for s in spans:
                if s["parent"] >= 0:
                    child[s["parent"]] = child.get(s["parent"], 0) + s["end_us"] - s["start_us"]
            self_total = sum(s["end_us"] - s["start_us"] - child.get(s["id"], 0) for s in spans)
            # each span rounds to whole microseconds
            self.assertLessEqual(self_total, wall + len(spans), w["name"])
            traced = result(w["name"], 1)["metrics"]
            reported = sum(v["value"] for k, v in traced.items() if k.startswith("trace.") and k.endswith("_self_s"))
            self.assertLessEqual(reported, wall / 1e6 + 1e-3, w["name"])


class Portability(unittest.TestCase):
    def test_runs_from_a_long_path(self):
        deep = os.path.join(SCRATCH, "a-checkout-path-" + "x" * 60, "that-is-deeply-nested-" + "y" * 40)
        self.assertGreaterEqual(len(deep), 100)
        copy_repo(deep)
        try:
            r = run_command(deep, "--workload", "replay-proto-8", "--seed", "3", "--seconds", "1", "--trace", "0")
            self.assertEqual(r.returncode, 0, r.stderr[-3000:])
            got = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertTrue(got["correct"])
            self.assertEqual(set(got["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
        finally:
            shutil.rmtree(os.path.join(SCRATCH, "a-checkout-path-" + "x" * 60), ignore_errors=True)

    def test_fails_without_the_engine(self):
        bare = os.path.join(SCRATCH, "bare")
        copy_repo(bare, with_engine=False)
        try:
            r = run_command(bare, "--workload", "replay-proto-8", "--seed", "1", "--seconds", "1", "--trace", "0",
                            timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


class SelfChecks(unittest.TestCase):
    def test_generator_and_checker(self):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--selftest"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("[selftest] all passed", r.stderr)

    def test_dlq_reproducer_prints_both_outputs(self):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--repro"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        for tag in ("[repro] input", "[repro] expected", "[repro] actual"):
            self.assertIn(tag, r.stderr)


if __name__ == "__main__":
    unittest.main(verbosity=2)
