"""Smoke test of the benchmark itself: each workload in --smoke mode must
print a correct result line carrying exactly BENCHMARK.json's metrics, for
both trace settings and on tables given with --fixture, and a directory
that is not a graft checkout must be refused without a result line.

Usage, from the repository root: python3 perfbench/test_smoke.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(cwd, *args):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    def setUp(self):
        with open("BENCHMARK.json") as fh:
            self.spec = json.load(fh)

    def check(self, workload, trace):
        r = run(".", "--workload", workload, "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--smoke")
        self.assertEqual(r.returncode, 0)
        line = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 1)
        kind = "per_layer" if trace else "end_to_end"
        self.assertEqual(list(line["metrics"]), [m["name"] for m in self.spec[kind]])
        for m in self.spec[kind]:
            got = line["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
        return line["metrics"]

    def test_etl_backfill(self):
        e2e = self.check("etl_backfill", 0)
        self.assertGreater(e2e["setup_s"]["value"], 0)
        layer = self.check("etl_backfill", 1)
        self.assertEqual(layer["sources.csv_rows"]["value"], 4000)
        self.assertGreater(layer["pipeline.files_written"]["value"], 0)

    def test_olap_headline(self):
        self.assertGreater(self.check("olap_headline", 0)["wall_s"]["value"], 0)
        layer = self.check("olap_headline", 1)
        self.assertGreater(layer["exec.jobs"]["value"], 0)
        self.assertEqual(layer["artifacts.rebuilds"]["value"], 0)

    def test_fixture_dir(self):
        # --fixture reads existing tables instead of generating them
        sys.path.insert(0, os.path.dirname(RUN))
        import fixture
        os.makedirs(".bench_run", exist_ok=True)
        d = tempfile.mkdtemp(dir=".bench_run")
        try:
            fixture.generate(d, 2, 0.001)
            r = run(".", "--workload", "olap_headline", "--seed", "1", "--seconds", "1",
                    "--trace", "0", "--smoke", "--fixture", d)
            self.assertEqual(r.returncode, 0)
            self.assertTrue(json.loads(r.stdout.strip().splitlines()[-1])["correct"])
        finally:
            shutil.rmtree(d)

    def test_refuses_without_checkout(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy("BENCHMARK.json", d)
            shutil.copytree(os.path.dirname(RUN), os.path.join(d, "perfbench"))
            r = run(d, "--workload", "olap_headline", "--seed", "1", "--seconds", "1",
                    "--trace", "0")
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
