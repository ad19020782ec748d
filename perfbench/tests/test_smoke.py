"""Smoke tests of the benchmark itself, at the tiny input size.

    python3 -m unittest discover -s perfbench/tests -v

They build the program if needed and take about five minutes: every
metric prints with its unit, a missing output row trips the
correctness gate, and one seed always gives the same inputs.
"""
import json
import re
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(workload, trace=0, fault=None):
    """Run the benchmark at the tiny size; return (stdout lines, result)."""
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if fault:
        cmd += ["--fault", fault]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=400)
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class Contract(unittest.TestCase):
    def test_workloads_match_the_spec(self):
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]), sorted(run.WORKLOADS))

    def test_setup_metric_is_declared(self):
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": setup[0]["bound"]}])


class Inputs(unittest.TestCase):
    def test_same_seed_same_checksums(self):
        tmp = run.OUT / "smoke"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            for kind in ("events", "documents"):
                a = gen.generate(tmp / f"{kind}-a", kind, "tiny", 3)["checksums"]
                b = gen.generate(tmp / f"{kind}-b", kind, "tiny", 3)["checksums"]
                c = gen.generate(tmp / f"{kind}-c", kind, "tiny", 4)["checksums"]
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class Metrics(unittest.TestCase):
    def check_metrics(self, result, declared):
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], float)

    def test_every_end_to_end_metric_prints_with_its_unit(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                lines, result = bench(w)
                self.assertTrue(result["correct"], lines)
                self.assertGreaterEqual(result["attempted"], 1)
                self.check_metrics(result, SPEC["end_to_end"])
                named = {re.match(r"metric (\S+) = \S+ (\S+)", l).groups()
                         for l in lines if l.startswith("metric ")}
                self.assertIn(("setup_s", "s"), named)
                self.assertIn(("error_rate", "ratio"), named)

    def test_every_per_layer_metric_prints_when_traced(self):
        lines, result = bench("corpus_clean", trace=1)
        self.assertTrue(result["correct"], lines)
        self.check_metrics(result, SPEC["per_layer"])
        self.assertGreater(result["metrics"]["llm.Corpus.wall_s"]["value"], 0)


class Gate(unittest.TestCase):
    def test_a_dropped_row_fails_the_corpus_oracle(self):
        lines, result = bench("corpus_clean", fault="drop-row")
        self.assertFalse(result["correct"])
        self.assertTrue(any(l.startswith("error oracle q_corpus_clean") for l in lines), lines)

    def test_a_dropped_row_fails_every_weatherdb_check(self):
        lines, result = bench("weatherdb_cycle", trace=1, fault="drop-row")
        self.assertFalse(result["correct"])
        errors = [l for l in lines if l.startswith("error ")]
        for kind in ("error oracle q_richter_correct", "error oracle q_agg_month",
                     "error last-import qc", "error last-import filled",
                     "error last-import corr", "error read "):
            self.assertTrue(any(e.startswith(kind) for e in errors), (kind, errors))
        # the traced cycle's spans cover the program's own calls, the cold
        # knn included
        for span in ("tsdb.Series", "tsdb.Neighbors", "tsdb.QualityCheck", "tsdb.Fillup",
                     "tsdb.Richter", "api.ModelExport", "api.Broker.qc", "api.Station.exec"):
            self.assertGreater(result["metrics"][f"{span}.wall_s"]["value"], 0, span)


if __name__ == "__main__":
    unittest.main()
