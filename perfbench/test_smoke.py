"""Smoke tests of the benchmark: every workload over sf0.001 and a short
stream, with and without tracing.

    python3 -m unittest perfbench/test_smoke.py     (from the checkout root)

They check that each run prints every named metric as its own line
with its unit and sample count, that `error_rate` is computed, that the
last line carries exactly the BENCHMARK.json metrics of the run's kind,
and that the batch output check tells a right result from a wrong one.
"""
import json
import os
import pathlib
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

BENCH = json.load(open("BENCHMARK.json"))
NAMED = {
    "batch": ["pass_s", "query_p50_s", "query_tail_s", "query_p90_s"],
    "stream": ["stream_latency_p50_ms", "stream_latency_tail_ms", "stream_latency_p90_ms",
               "stream_sustained_eps", "stream_saturated_eps"],
}
KIND = {w: c["kind"] for w, c in
        json.load(open(os.path.join(HERE, "workloads.json")))["workloads"].items()}


def bench(workload, trace):
    # the stream's two rungs span one 5 s trigger interval each
    seconds = "10" if KIND[workload] == "stream" else "4"
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", seconds, "--trace", str(trace), "--smoke"],
                       capture_output=True, text=True, timeout=600)
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    return p.returncode, lines


class SmokeTest(unittest.TestCase):
    def check_run(self, workload, trace):
        code, lines = bench(workload, trace)
        self.assertEqual(code, 0, lines[-3:])
        result = lines[-1]
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        specs = BENCH["per_layer"] if trace else BENCH["end_to_end"]
        self.assertEqual(set(result["metrics"]), {s["name"] for s in specs})
        for s in specs:
            self.assertEqual(result["metrics"][s["name"]]["unit"], s["unit"], s["name"])
        printed = {x["metric"]: x for x in lines[:-1] if "metric" in x}
        for x in printed.values():
            self.assertEqual(set(x), {"metric", "workload", "value", "unit", "n"})
            self.assertEqual(x["workload"], workload)
        self.assertEqual(printed["error_rate"]["value"], 0.0)
        self.assertEqual(printed["error_rate"]["n"], result["attempted"])
        for name in NAMED[KIND[workload]] + ["setup_s", "peak_rss_mb"]:
            self.assertIn(name, printed)
        if trace:
            layered = [s["name"] for s in specs if s["name"] in printed]
            self.assertTrue(layered, "no per-layer metric measured")
        else:
            for s in specs:
                self.assertGreater(result["metrics"][s["name"]]["value"], 0, s["name"])

    def test_market_batch(self):
        self.check_run("market_batch", 0)
        self.check_run("market_batch", 1)

    def test_curation_batch(self):
        self.check_run("curation_batch", 0)
        self.check_run("curation_batch", 1)

    def test_feature_stream(self):
        self.check_run("feature_stream", 0)
        self.check_run("feature_stream", 1)


class CheckTest(unittest.TestCase):
    def test_generator_is_seeded(self):
        with tempfile.TemporaryDirectory(dir=".") as d:
            gen.generate(f"{d}/a", 0.001, 3)
            gen.generate(f"{d}/b", 0.001, 3)
            gen.generate(f"{d}/c", 0.001, 4)
            def read(run):
                return pathlib.Path(d, run, "lineitem.parquet").read_bytes()
            self.assertEqual(read("a"), read("b"))
            self.assertNotEqual(read("a"), read("c"))

    def test_digest_tells_right_from_wrong(self):
        import duckdb
        con = duckdb.connect()
        right = "SELECT 1 AS a, 2.5 AS b UNION ALL SELECT 3, 4.0"
        same = "SELECT CAST(4 AS DOUBLE) AS b, CAST(3 AS BIGINT) AS a UNION ALL SELECT 2.5, 1"
        wrong = "SELECT 1 AS a, 2.5 AS b UNION ALL SELECT 3, 4.5"
        self.assertEqual(run.digest(con, right), run.digest(con, same))
        self.assertNotEqual(run.digest(con, right), run.digest(con, wrong))


if __name__ == "__main__":
    unittest.main()
