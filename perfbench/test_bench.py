#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_bench.py            # all, including JVM runs (~5 min)
    PERFBENCH_FAST=1 python3 perfbench/test_bench.py   # generator and map only

Run from the root of a checkout.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "test")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def layers():
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)


def bench(workload, trace, *extra):
    """One benchmark run; returns (report lines, final JSON)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", str(trace)] + list(extra),
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=900)
    assert p.returncode == 0, p.stdout[-2000:]
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for w in gen.WORKLOADS:
            a, b = os.path.join(SCRATCH, w, "a"), os.path.join(SCRATCH, w, "b")
            for d in (a, b):
                shutil.rmtree(d, ignore_errors=True)
                gen.generate(w, 11, d)
            cmp = filecmp.dircmp(a, b)
            self.assertFalse(cmp.left_only or cmp.right_only or cmp.diff_files, w)

            def files(d):
                return sorted(os.path.relpath(os.path.join(r, f), d)
                              for r, _, fs in os.walk(d) for f in fs)
            self.assertEqual(files(a), files(b))
            for f in files(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False),
                                "%s: %s differs" % (w, f))

    def test_other_seed_gives_other_inputs(self):
        for w in gen.WORKLOADS:
            self.assertNotEqual(gen.generate(w, 1, os.path.join(SCRATCH, w, "s1")),
                                gen.generate(w, 2, os.path.join(SCRATCH, w, "s2")), w)


class LayerMapTest(unittest.TestCase):
    def test_every_per_layer_metric_belongs_to_one_layer(self):
        named = [m for l in layers()["layers"] for m in l["metrics"]]
        self.assertEqual(len(named), len(set(named)))
        self.assertEqual(sorted(named), sorted(m["name"] for m in spec()["per_layer"]))

    def test_moves_name_end_to_end_metrics_and_workloads(self):
        workloads = set(gen.WORKLOADS)
        self.assertLessEqual({w["name"] for w in spec()["workloads"]}, workloads)
        for l in layers()["layers"]:
            for mv in l["moves"]:
                self.assertIn(mv["metric"], run.E2E_UNITS, l["layer"])
                self.assertIn(mv["workload"], workloads, l["layer"])
            for w in l["steady_on"]:
                self.assertIn(w, workloads, l["layer"])

    def test_gated_metrics_are_printed_metrics(self):
        for m in spec()["end_to_end"]:
            self.assertEqual(run.E2E_UNITS[m["name"]], m["unit"])


@unittest.skipIf(os.environ.get("PERFBENCH_FAST"), "JVM runs skipped")
class RunTest(unittest.TestCase):
    def test_smoke_emits_every_metric_with_its_unit(self):
        s = spec()
        for w in gen.WORKLOADS:
            report, e2e = bench(w, 0)
            self.assertTrue(e2e["correct"], w)
            self.assertEqual(set(e2e["metrics"]), {m["name"] for m in s["end_to_end"]})
            for m in s["end_to_end"]:
                self.assertEqual(e2e["metrics"][m["name"]]["unit"], m["unit"])
                self.assertGreater(e2e["metrics"][m["name"]]["value"], 0)
            printed = {l.split()[0]: l.split()[2] for l in report if len(l.split()) == 3}
            want = [k for k in run.E2E_UNITS
                    if w == "ingest_commit" or k not in run.INGEST_E2E]
            for k in want:
                self.assertEqual(printed.get(k), run.E2E_UNITS[k], (w, k))
            _, traced = bench(w, 1)
            self.assertEqual(set(traced["metrics"]), {m["name"] for m in s["per_layer"]})
            for m in s["per_layer"]:
                self.assertEqual(traced["metrics"][m["name"]]["unit"], m["unit"])

    def test_wrong_answer_raises_fail_ratio(self):
        for w in gen.WORKLOADS:
            report, out = bench(w, 0, "--corrupt-every", "3")
            self.assertFalse(out["correct"], w)
            self.assertGreater(out["failed"], 0, w)
            ratio = [l for l in report if l.split()[:1] == ["fail_ratio"]][0]
            self.assertGreater(float(ratio.split()[1]), 0.0, w)


if __name__ == "__main__":
    unittest.main()
