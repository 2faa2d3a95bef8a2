"""Tests of the benchmark itself (not of the program it measures).

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

Every test starts real benchmark runs with one-second measuring windows;
the whole file takes several minutes.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
RUN = ROOT / "perfbench" / "run.py"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args, cwd=ROOT, run=RUN):
    """Runs the benchmark; returns (exit code, parsed last stdout line)."""
    p = subprocess.run([sys.executable, str(run), *args], cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return p.returncode, last


def build_outputs(directory, names):
    """copytree filter: what the build leaves behind, which git ignores."""
    inner = Path(directory).name == "project"
    return [n for n in names if n == "target" or (inner and n == "project")]


def timed(workload, seed=1, trace=0, *extra):
    return bench("--workload", workload, "--seed", str(seed), "--seconds", "1",
                 "--trace", str(trace), *extra)


class MetricNames(unittest.TestCase):
    def check(self, trace, declared):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, out = timed(w, 3, trace)
                self.assertEqual(rc, 0)
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)
                self.assertGreaterEqual(out["attempted"], 1)
                self.assertEqual(set(out["metrics"]), {m["name"] for m in declared})
                units = {m["name"]: m["unit"] for m in declared}
                for name, m in out["metrics"].items():
                    self.assertEqual(m["unit"], units[name], name)
                    self.assertIsInstance(m["value"], (int, float), name)

    def test_end_to_end_metrics_match_declaration(self):
        self.check(0, SPEC["end_to_end"])

    def test_per_layer_metrics_match_declaration(self):
        self.check(1, SPEC["per_layer"])


class Schedule(unittest.TestCase):
    def schedule(self, workload, seed):
        """The query orders and lookup keys an ordinary run used."""
        rc, _ = timed(workload, seed)
        self.assertEqual(rc, 0)
        result = ROOT / ".bench_work" / workload / "result.json"
        return json.loads(result.read_text())["schedule"]

    def test_same_seed_same_query_order(self):
        a, b = self.schedule("reference", 7), self.schedule("reference", 7)
        self.assertEqual(a["orders"], b["orders"])
        self.assertNotEqual(a["orders"][0], a["orders"][1])
        self.assertNotEqual(a["orders"], self.schedule("reference", 8)["orders"])

    def test_same_seed_same_lookup_keys(self):
        a, b = self.schedule("stream_serve", 7), self.schedule("stream_serve", 7)
        self.assertEqual(a["keys"], b["keys"])
        self.assertTrue(all(a["keys"].values()))
        self.assertNotEqual(a["keys"], self.schedule("stream_serve", 8)["keys"])


class InjectedFailures(unittest.TestCase):
    def assert_fails(self, workload, inject):
        rc, out = timed(workload, 1, 0, "--inject", inject)
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        ratio = out["failed"] / out["attempted"]
        self.assertGreater(ratio, 0)

    def test_throwing_query_fails_the_run(self):
        self.assert_fails("reference", "throw")

    def test_wrong_query_output_fails_the_run(self):
        self.assert_fails("reference", "wrong")

    def test_wrong_lookup_fails_the_run(self):
        self.assert_fails("stream_serve", "wrong")


class WithoutProgram(unittest.TestCase):
    def test_fails_without_the_program_sources(self):
        iso = ROOT / ".bench_work" / "isolated"
        shutil.rmtree(iso, ignore_errors=True)
        iso.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", iso)
        for path in SPEC["paths"]:
            shutil.copytree(ROOT / path, iso / path, ignore=build_outputs)
        rc, out = bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                        "--trace", "0", cwd=iso, run=iso / "perfbench" / "run.py")
        shutil.rmtree(iso, ignore_errors=True)
        self.assertNotEqual(rc, 0)
        self.assertIsNone(out)


if __name__ == "__main__":
    unittest.main()
