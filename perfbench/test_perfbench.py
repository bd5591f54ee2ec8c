"""The benchmark's own tests, at tiny input sizes.

    python3 -m unittest perfbench/test_perfbench.py

Each test runs the real command (build, JVM, workload, checks), so the
first one also compiles the program.
"""

import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(*args, cwd=ROOT):
    """Run the command; return (exit code, stdout lines, final JSON or None)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    return p.returncode, lines, result


def printed_metrics(lines):
    """name -> (value, unit) from the `perfbench metric` lines."""
    out = {}
    for line in lines:
        if line.startswith("perfbench metric "):
            name, value, unit = line.split()[2:5]
            out[name] = (float(value), unit)
    return out


def record_of(lines):
    path = next(l.split(" ", 2)[2] for l in lines if l.startswith("perfbench record "))
    return json.loads(Path(path).read_text())


class TinyRuns(unittest.TestCase):
    """One untraced and one traced tiny run per workload, shared by the tests."""

    runs = {}

    @classmethod
    def setUpClass(cls):
        for w in WORKLOADS:
            for trace in ("0", "1"):
                cls.runs[(w, trace)] = run("--workload", w, "--seed", "7", "--seconds", "1",
                                           "--trace", trace, "--size", "tiny")

    def test_tiny_runs_pass_their_output_checks(self):
        for (w, trace), (code, lines, result) in self.runs.items():
            with self.subTest(workload=w, trace=trace):
                self.assertEqual(code, 0, "\n".join(lines))
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 2)

    def test_every_metric_is_printed_with_its_unit(self):
        for (w, trace), (_, lines, result) in self.runs.items():
            spec = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
            want = {m["name"]: m["unit"] for m in spec}
            with self.subTest(workload=w, trace=trace):
                self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
                for v in result["metrics"].values():
                    self.assertIsInstance(v["value"], (int, float))
                printed = printed_metrics(lines)
                for name, unit in want.items():
                    self.assertEqual(printed[name][1], unit, name)
                self.assertEqual(printed["error_rate"], (0.0, "ratio"))
                if trace == "0":
                    for name in want:
                        self.assertGreater(result["metrics"][name]["value"], 0, name)

    def test_span_self_time_never_exceeds_wall_time(self):
        for w in WORKLOADS:
            _, lines, _ = self.runs[(w, "1")]
            path = next(l.split(" ", 2)[2] for l in lines if l.startswith("perfbench spans "))
            spans = [json.loads(l) for l in Path(path).read_text().splitlines()]
            by_id = {s["id"]: s for s in spans}
            with self.subTest(workload=w):
                self.assertTrue(spans)
                self.assertTrue({"pass"} < {s["name"] for s in spans})
                for s in spans:
                    self.assertLessEqual(s["self_s"], s["wall_s"] + 1e-9, s)
                    self.assertGreaterEqual(s["self_s"], 0.0, s)
                    if s["parent"]:
                        p = by_id[s["parent"]]
                        self.assertLessEqual(p["start_ns"], s["start_ns"])
                        self.assertLessEqual(s["end_ns"], p["end_ns"])
                        self.assertEqual(p["pass"], s["pass"])

    def test_traced_run_reports_its_overhead(self):
        for w in WORKLOADS:
            _, lines, result = self.runs[(w, "1")]
            with self.subTest(workload=w):
                self.assertTrue(any(l.startswith("perfbench trace overhead ") for l in lines))
                self.assertIn("trace.overhead_s", result["metrics"])


class Failures(unittest.TestCase):

    def test_injected_failing_pass_counts_as_error_and_is_not_timed(self):
        w = WORKLOADS[0]
        code, lines, result = run("--workload", w, "--seed", "7", "--seconds", "3",
                                  "--trace", "0", "--size", "tiny", "--inject-fail", "1")
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        rate, unit = printed_metrics(lines)["error_rate"]
        self.assertAlmostEqual(rate, 1 / result["attempted"])
        rec = record_of(lines)
        failed = [p for p in rec["passes"] if not p["ok"]]
        self.assertEqual([p["pass"] for p in failed], [1])
        ok_warm = [p["wall_s"] for p in rec["passes"] if p["ok"] and p["pass"] > 0]
        self.assertTrue(ok_warm, "need a successful warm pass besides the failed one")
        rates = sorted(rec["items_per_pass"] / s for s in ok_warm)
        mid = len(rates) // 2
        median = rates[mid] if len(rates) % 2 else (rates[mid - 1] + rates[mid]) / 2
        self.assertAlmostEqual(result["metrics"]["items_per_s"]["value"], median)

    def test_fails_without_a_result_when_the_program_is_absent(self):
        work = ROOT / ".bench_work"
        work.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=work) as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, lines, result = run("--workload", WORKLOADS[0], "--seed", "1",
                                      "--seconds", "1", "--trace", "0", cwd=d)
            self.assertNotEqual(code, 0)
            self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main()
