"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

Each case runs the real benchmark (build, JVM, checks) on batch_sf001 with
a one-second budget, about a minute per run at 4 cores once the build
exists.
"""
import glob
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def oracle_hashes(data, oracle_sql):
    """The canonical hash of each query's DuckDB oracle over the tables in `data`."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    return {q: run.digest(con.execute(sql).df()) for q, sql in oracle_sql.items()}


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seconds", "1", *args],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    assert r.returncode == 0, f"benchmark exited with {r.returncode}"
    return json.loads(r.stdout.strip().splitlines()[-1])


class PerfbenchTest(unittest.TestCase):
    def test_workloads_match_benchmark_json(self):
        self.assertEqual(sorted(w["name"] for w in BENCH["workloads"]), sorted(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in BENCH["end_to_end"]}, run.END_TO_END)

    def test_untraced_run_matches_the_oracle(self):
        line = bench("--workload", "batch_sf001", "--seed", "7", "--trace", "0")
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        self.assertEqual(set(line["metrics"]), set(run.END_TO_END))
        self.assertTrue(all(m["value"] > 0 for m in line["metrics"].values()))
        # the kept hashes are those of the DuckDB oracle over the fixtures
        with open(os.path.join(run.run_dir("batch_sf001", 7, 0), "oracle_sql.json")) as f:
            oracle = json.load(f)
        with open(run.EXPECTED) as f:
            expected = json.load(f)["batch_sf001"]
        data = os.path.join(run.FIXTURES, run.WORKLOADS["batch_sf001"]["data"])
        self.assertEqual(oracle_hashes(data, oracle), expected)

    def test_traced_run_with_corrupt_expected_hash(self):
        with open(run.EXPECTED) as f:
            kept = f.read()
        hashes = json.loads(kept)
        q = sorted(hashes["batch_sf001"])[0]
        hashes["batch_sf001"][q] = "0" * 64
        try:
            with open(run.EXPECTED, "w") as f:
                json.dump(hashes, f)
            line = bench("--workload", "batch_sf001", "--seed", "7", "--trace", "1")
        finally:
            with open(run.EXPECTED, "w") as f:
                f.write(kept)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        self.assertEqual(set(line["metrics"]), {m["name"] for m in BENCH["per_layer"]})
        self.assertGreater(line["metrics"]["exec.jobs"]["value"], 0)
        self.assertGreater(line["metrics"]["exec.tasks"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
