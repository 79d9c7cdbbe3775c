"""Tests of the benchmark itself, at the small test scale.

    python3 -m unittest discover -s perfbench/tests -v

The end-to-end cases build the engine on first use and run the harness
JVM at sf0.001 with one set-up and short passes (about a minute each).
"""
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

import oracle  # noqa: E402
import run  # noqa: E402


def bench(workload, trace=0, *extra):
    """Runs run.py at the test scale; returns (detail, result, exit code)."""
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "small", *extra],
        capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2:
        raise AssertionError(f"no result (exit {p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1]), p.returncode


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class MetricsTest(unittest.TestCase):
    def assert_metrics(self, result, spec):
        want = {m["name"]: m["unit"] for m in spec}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_every_metric_prints_with_its_unit(self):
        spec = declared()
        for w in [x["name"] for x in spec["workloads"]]:
            with self.subTest(workload=w, trace=0):
                _, r, code = bench(w, 0)
                self.assertEqual(code, 0)
                self.assertTrue(r["correct"], r)
                self.assertEqual(r["failed"], 0)
                self.assert_metrics(r, spec["end_to_end"])
                self.assertGreater(r["metrics"]["pass_s"]["value"], 0)
            with self.subTest(workload=w, trace=1):
                _, r, code = bench(w, 1)
                self.assertEqual(code, 0)
                self.assert_metrics(r, spec["per_layer"])

    def test_ingest_tier_invariants_hold(self):
        """The pipeline's invariants hold and every metric prints. A cycle
        may still fail: a probe that reads the Iceberg export while a
        trigger rewrites `version-hint.text` (written in place, not
        atomically) can find it empty. Such a cycle counts as failed and
        is listed in the detail line; it is not asserted away here."""
        d, r, code = bench("ingest_tier", 1)
        self.assertEqual(code, 0)
        invariants = [f["name"] for f in d["failures"] if f["name"] != "cycle"]
        self.assertEqual(invariants, [])
        self.assertEqual(set(r["metrics"]),
                         set(run.PER_LAYER) | set(run.INGEST_PER_LAYER))


class OutputCheckTest(unittest.TestCase):
    def test_corrupted_result_fails_the_check(self):
        d, r, _ = bench("lake_read", 0, "--inject-corrupt", "q7_union_read")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)
        self.assertIn("q7_union_read", [f["name"] for f in d["failures"]])
        # its latencies are not samples either
        self.assertNotIn("q7_union_read", d["per_query_s"])

    def test_throwing_query_counts_as_failed_and_adds_no_sample(self):
        d, r, _ = bench("lake_read", 0, "--inject-throw", "q11_time_travel")
        self.assertFalse(r["correct"])
        self.assertNotIn("q11_time_travel", d["per_query_s"])
        passes = len(d["passes_s"])
        self.assertEqual(r["failed"], passes)
        self.assertLess(r["metrics"]["ok_rate"]["value"], 1.0)

    def test_digest_is_representation_sensitive(self):
        import duckdb
        con = duckdb.connect()
        a = oracle.digest(con.sql("SELECT 1::BIGINT AS x UNION ALL SELECT 2"))
        b = oracle.digest(con.sql("SELECT 2::BIGINT AS x UNION ALL SELECT 1"))
        c = oracle.digest(con.sql("SELECT 1.00::DECIMAL(15,2) AS x UNION ALL SELECT 2"))
        self.assertEqual(a, b)  # row order does not matter
        self.assertNotEqual(a, c)  # a DECIMAL is not a BIGINT


class BuildStampTest(unittest.TestCase):
    def test_stamp_follows_contents_not_mtimes(self):
        with tempfile.TemporaryDirectory() as d:
            src = os.path.join(d, "src", "main")
            os.makedirs(src)
            f = os.path.join(src, "A.scala")
            with open(f, "w") as g:
                g.write("object A")
            saved = run.ROOT, run.HERE
            run.ROOT, run.HERE = d, os.path.join(d, "perfbench")
            try:
                first = run.sources_stamp()
                os.utime(f, (0, 0))
                self.assertEqual(run.sources_stamp(), first)
                with open(f, "a") as g:
                    g.write(" // changed")
                self.assertNotEqual(run.sources_stamp(), first)
            finally:
                run.ROOT, run.HERE = saved


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            subprocess.run(["cp", "-r", BENCH, os.path.join(ROOT, "BENCHMARK.json"), d],
                           check=True)
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "lake_read",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
