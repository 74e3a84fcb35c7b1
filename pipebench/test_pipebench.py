"""The benchmark's own tests. Each runs workloads on small seeded inputs.

    python3 -m unittest discover -s pipebench -p 'test_*.py'

Takes several minutes: every run starts a Spark driver JVM.
"""
import glob
import json
import os
import subprocess
import sys
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402

SEED = 7
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace=0, corrupt=0):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--size", "small", "--corrupt", str(corrupt)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"run.py exited {proc.returncode}: {proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def oracle_rows(workload, gate, out_table, cols="*"):
    """(DuckDB oracle rows, rows of every measured output) for one gate."""
    sql_file = os.path.join(ROOT, ".pipebench", "oracle_sql.json")
    subprocess.run(["java", "-cp", build.build(), "pipebench.OracleSql", sql_file], check=True)
    with open(sql_file) as f:
        sql = json.load(f)[gate]
    wl = run.WORKLOADS[workload]
    data = gen.generate(os.path.join(ROOT, ".pipebench", "data"), workload, wl["tables"],
                        SEED, wl["scale"].get("small", 0), wl["docs"].get("small", 0))
    con = duckdb.connect()
    for t in wl["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    expected = verify.normalised_rows(con.execute(sql).fetchdf())
    outs = sorted(glob.glob(os.path.join(
        ROOT, ".pipebench", "work", workload, "out", "r*", f"{out_table}.parquet")))
    measured = [verify.normalised_rows(con.execute(
        f"SELECT {cols} FROM read_parquet('{p}/*.parquet')").fetchdf()) for p in outs]
    return expected, measured


class BenchmarkTest(unittest.TestCase):

    def check_line(self, line, metrics):
        self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(sorted(line["metrics"]), sorted(m["name"] for m in metrics))
        for m in metrics:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(line["metrics"][m["name"]]["value"], float)
        self.assertGreaterEqual(line["attempted"], 1)

    def test_listed_workloads_print_the_declared_metrics(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                line = bench(w["name"])
                self.check_line(line, SPEC["end_to_end"])
                self.assertTrue(line["correct"], line)
                self.assertEqual(line["failed"], 0)
                for m in SPEC["end_to_end"]:
                    self.assertGreater(line["metrics"][m["name"]]["value"], 0)
                traced = bench(w["name"], trace=1)
                self.check_line(traced, SPEC["per_layer"])
                self.assertTrue(traced["correct"], traced)

    def test_corrupted_output_is_a_failure(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                line = bench(w["name"], corrupt=1)
                self.assertFalse(line["correct"])
                self.assertGreaterEqual(line["failed"], 1)

    def test_graph_outputs_equal_oracle_sql(self):
        bench("graph_fixpoint")
        expected, measured = oracle_rows("graph_fixpoint", "graph_cc", "graph_cc")
        self.assertTrue(measured)
        self.assertGreater(len(expected), 0)
        for rows in measured:
            self.assertEqual(rows, expected)

    def test_curate_outputs_equal_oracle_sql(self):
        self.assertTrue(bench("curate_dedup")["correct"])
        # the Loaded table carries more columns than the gate query returns
        expected, measured = oracle_rows("curate_dedup", "curate_pretrain",
                                         "curated_documents",
                                         "doc_id, lang, n_tokens, score, rank")
        self.assertTrue(measured)
        self.assertGreater(len(expected), 0)
        for rows in measured:
            self.assertEqual(rows, expected)


if __name__ == "__main__":
    unittest.main()
