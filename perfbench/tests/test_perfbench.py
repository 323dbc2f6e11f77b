"""The benchmark's own tests: seeded inputs, a smoke run of every workload
at its smallest input, and the machine-weather flag under a CPU burner.

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import prepare  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(BENCH, ".work", "tests")


def bench(workload, trace=0, seed=1):
    """Runs one smoke-size benchmark; returns (record lines, result)."""
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace), "--size", "small"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}: {r.stderr[-2000:]}")
    lines = [json.loads(x) for x in r.stdout.strip().splitlines()]
    return lines[:-1], lines[-1]


class SeededInputs(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def corpus(self, seed, name):
        return prepare.corpus(os.path.join(run.FIXTURES, "sf0.001"),
                              os.path.join(SCRATCH, name), seed, 5)

    def test_same_seed_same_fingerprint(self):
        a, b = self.corpus(7, "a"), self.corpus(7, "b")
        self.assertEqual(prepare.fingerprint(a), prepare.fingerprint(b))

    def test_other_seed_other_documents_same_counts(self):
        import pyarrow.parquet as pq
        a, b = self.corpus(7, "a"), self.corpus(8, "b")
        self.assertNotEqual(prepare.fingerprint(a), prepare.fingerprint(b))
        for t in ("documents", "embeddings"):
            ta = pq.read_table(os.path.join(a, t + ".parquet"))
            tb = pq.read_table(os.path.join(b, t + ".parquet"))
            self.assertEqual(ta.num_rows, tb.num_rows)
        src = pq.read_table(os.path.join(run.FIXTURES, "sf0.001", "documents.parquet"))
        docs = pq.read_table(os.path.join(a, "documents.parquet"))
        self.assertEqual(docs.num_rows, 5 * src.num_rows)
        # copy 0 is the source document, unchanged
        self.assertEqual(docs.column("text").to_pylist()[:src.num_rows],
                         src.column("text").to_pylist())
        self.assertNotEqual(docs.column("text").to_pylist(),
                            pq.read_table(os.path.join(b, "documents.parquet"))
                            .column("text").to_pylist())


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        _, res = bench(workload, trace)
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        names = [k for k, _ in (run.PER_LAYER if trace else run.END_TO_END)]
        self.assertEqual(sorted(res["metrics"]), sorted(names))
        for m in res["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))

    def test_workloads(self):
        for w in run.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)


class Weather(unittest.TestCase):
    def test_cpu_burner_is_flagged(self):
        burners = [subprocess.Popen([sys.executable, "-c", "while True: pass"])
                   for _ in range(run.CORES)]
        try:
            lines, res = bench("tpch_sql_sf0.1")
        finally:
            for p in burners:
                p.kill()
            for p in burners:
                p.wait()
        self.assertTrue(res["correct"], res)
        flags = [x["weather_flagged"] for x in lines if "weather_flagged" in x]
        self.assertEqual(flags, [True])


if __name__ == "__main__":
    unittest.main()
