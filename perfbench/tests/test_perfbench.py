"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The last test starts one short traced run (about a minute, and a build on
first use).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import sample  # noqa: E402

# Per-layer self times of one traced run must add up to the measured wall
# of the same executions to within this share.
RECONCILE_TOLERANCE = 0.02


def table(workload):
    return sample.load(os.path.join(BENCH, "expected", f"{workload}.json"))


class SampleTest(unittest.TestCase):
    def test_sample_is_a_pure_function_of_seed_and_registry(self):
        for w in ("queries_floor", "queries_heavy"):
            t = table(w)
            for seed in range(5):
                a = sample.draw(w, seed, t)
                self.assertEqual(a, sample.draw(w, seed, json.loads(json.dumps(t))))
                self.assertTrue(set(a) <= set(t["queries"]))
            self.assertGreater(len({tuple(sample.draw(w, s, t)) for s in range(10)}), 5)

    def test_every_floor_sample_has_the_registry_mix(self):
        w = "queries_floor"
        t = table(w)
        strata = sample.strata(w, t)
        core = set(sample.core(w, t))
        for seed in range(10):
            got = set(sample.draw(w, seed, t))
            self.assertTrue(core <= got)
            self.assertEqual(len(got), len(core) + sample.EXTRA[w])
            for s in strata[:-1]:
                self.assertGreaterEqual(len(got & set(s)), 1)
            streaming = [n for n in got if sample.is_streaming(n)]
            self.assertEqual(len(streaming), sample.STREAMING[w])

    def test_heavy_pool_excludes_streaming(self):
        t = table("queries_heavy")
        self.assertFalse([n for n in t["queries"] if sample.is_streaming(n)])
        for seed in range(20):
            self.assertFalse([n for n in sample.draw("queries_heavy", seed, t)
                              if sample.is_streaming(n)])

    def test_samples_carry_balanced_reference_work(self):
        for w in ("queries_floor",):
            t = table(w)
            totals = [sum(t["queries"][n]["warm_s"] for n in sample.draw(w, s, t))
                      for s in range(10)]
            self.assertLess(max(totals) / min(totals), 1 + 2.5 * sample.BALANCE)


class CpuCountTest(unittest.TestCase):
    def test_bad_cpu_count_fails_with_a_clear_message(self):
        for bad, msg in (("four", "must be a whole number"),
                         ("0", "must be between 1 and")):
            out = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                 "queries_floor", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
                env=dict(os.environ, PERFBENCH_CPUS=bad))
            self.assertNotEqual(out.returncode, 0)
            self.assertIn(msg, out.stderr)
            self.assertEqual(out.stdout.strip(), "")


class TracedRunTest(unittest.TestCase):
    def test_self_times_reconcile_with_wall(self):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             "queries_floor", "--seed", "7", "--seconds", "2", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        line = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertTrue(line["correct"])
        with open(os.path.join(ROOT, ".bench_build", "artifacts",
                               "queries_floor-s7-t1.json")) as fh:
            layers = json.load(fh)["per_layer"]
        self_sum = sum(v for k, v in layers.items() if k.startswith("self."))
        wall = layers["queries.warm1_wall_s"]
        self.assertGreater(wall, 0)
        self.assertLess(abs(self_sum - wall) / wall, RECONCILE_TOLERANCE,
                        f"self {self_sum} vs wall {wall}")
        self.assertTrue(os.path.isfile(os.path.join(
            ROOT, ".bench_build", "artifacts", "queries_floor-s7-t1.spans.jsonl")))


if __name__ == "__main__":
    unittest.main()
