"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

The project tests build the harness first (as run.py does).
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class Harness(unittest.TestCase):
    """Builds the harness once per test class; a base with no tests."""

    @classmethod
    def setUpClass(cls):
        cls.classpath = run.build()
        cls.tmp = tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work") if os.path.isdir(
            os.path.join(ROOT, ".bench_work")) else None)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def java(self, main, *args):
        return subprocess.run(["java", "-Xmx1g", *run.ADD_OPENS, "-cp", self.classpath, main, *args],
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)

    def gen(self, workload, seed, name):
        out = os.path.join(self.tmp.name, name)
        r = self.java("graftbench.Harness", "gen", "--workload", workload, "--seed", str(seed),
                      "--work", os.path.join(self.tmp.name, "work"), "--out", out)
        self.assertEqual(r.returncode, 0, r.stdout)
        return out


class GeneratedProjects(Harness):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = self.gen(w, 7, f"{w}_a"), self.gen(w, 7, f"{w}_b"), self.gen(w, 8, f"{w}_c")
                self.assertTrue(same_tree(a, b), f"{w}: seed 7 generated two different projects")
                self.assertFalse(same_tree(a, c), f"{w}: seeds 7 and 8 generated the same project")

    def test_every_project_lints_clean(self):
        for w in run.WORKLOADS:
            for seed in (1, 2, 3):
                with self.subTest(workload=w, seed=seed):
                    d = self.gen(w, seed, f"{w}_lint_{seed}")
                    r = self.java("graft.Main", "lint", d)
                    self.assertEqual(r.returncode, 0, r.stdout)
                    self.assertNotIn("[error]", r.stdout)


class CorrectnessGate(Harness):
    """Runs one set-up of each workload and checks its outputs twice: as
    they are, and against an expected state with one target's fingerprint
    corrupted. The second check must report exactly that target."""
    PLANT = {"incr_daily": "ev_latest", "curation": "doc_chunks"}

    def test_gate_passes_true_outputs_and_fails_a_planted_wrong_hash(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                work = os.path.join(self.tmp.name, f"gate_{w}")
                os.makedirs(os.path.join(work, "tmp"))
                r = subprocess.run(["java", "-Xmx2g", "-Duser.timezone=UTC", *run.ADD_OPENS, f"-Djava.io.tmpdir={work}/tmp",
                                    "-cp", self.classpath, "graftbench.Harness", "gate", "--workload", w,
                                    "--seed", "3", "--work", work, "--plant", self.PLANT[w]],
                                   stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
                self.assertEqual(r.returncode, 0, r.stdout[-3000:])
                res = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
                self.assertEqual(res["clean"], [])
                self.assertEqual(len(res["planted"]), 1, res["planted"])
                self.assertTrue(res["planted"][0].startswith(self.PLANT[w] + ":"), res["planted"])


class MetricNames(unittest.TestCase):
    def test_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS))

    def test_printed_metrics_are_the_declared_ones(self):
        res = {"run_s": [1.0, 2.0, 3.0], "setup_s": [1.0], "timed_instances": [10, 10, 10],
               "timed_rows": [100, 100, 100], "retained_heap_mb": 50.0, "traced_s": [2.2],
               "calibration_s": [0.3], "layers": {k: 1.0 for k in run.PER_LAYER}}
        self.assertEqual(set(run.metrics(res, trace=False)), set(run.END_TO_END))
        self.assertEqual(set(run.metrics(res, trace=True)), set(run.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
