"""Smoke test: every workload, untraced and traced, at a tiny scale
(sf0.001 tables, 500 device keys, 500-row chunks, one-second runs).
Builds the engine on first use; takes a few minutes.

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402
import run  # noqa: E402

ROOT = HERE.parent
SMOKE = [
    "--fixed", "master=local[2] shuffle_partitions=2 heap=1g sf=0.001",
    "--fixed", "keys=500 zipf=1.0 chunk_rows=500 warm_chunks=0",
    "--fixed", "closed_chunks_filter=2 closed_chunks_transform=2 closed_chunks_analytic=2 "
               "closed_chunks_window=2 closed_chunks_cep=2",
    # about a quarter of what 500-row chunks sustain, as in BENCHMARK.json
    "--fixed", "rate_filter=500 rate_transform=500 rate_analytic=200 rate_window=200 "
               "rate_cep=200",
    "--fixed", "warm_passes=1 min_passes=1 default_seed=1",
]


def bench(workload, trace):
    proc = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                           "--seed", "5", "--seconds", "1", "--trace", str(trace)] + SMOKE,
                          cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n"
                             + proc.stderr[-3000:])
    return json.loads(proc.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def check(self, workload):
        for trace, names in ((0, metrics.E2E_UNITS), (1, metrics.per_layer_units())):
            out = bench(workload, trace)
            self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
            self.assertTrue(out["correct"], out)
            self.assertGreaterEqual(out["attempted"], 1)
            self.assertEqual(out["failed"], 0)
            self.assertEqual(list(out["metrics"]), list(names))
            for name, m in out["metrics"].items():
                self.assertEqual(m["unit"], names[name])
                self.assertIsInstance(m["value"], (int, float))
            if trace == 0:
                for name in names:
                    self.assertGreater(out["metrics"][name]["value"], 0, name)

    def test_stream_rules(self):
        self.check("stream_rules")

    def test_stream_state(self):
        self.check("stream_state")

    def test_batch(self):
        self.check("batch")


class ArgsTest(unittest.TestCase):
    def test_fixed_settings_and_default_seed(self):
        a, fixed = run.parse(["--workload", "batch", "--seconds", "3"] + SMOKE)
        self.assertEqual(a.seed, 1)
        self.assertEqual(fixed["sf"], "0.001")
        self.assertEqual(fixed["rate_cep"], "200")


if __name__ == "__main__":
    unittest.main()
