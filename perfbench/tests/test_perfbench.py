"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import digest  # noqa: E402
import run  # noqa: E402


class PlanTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in run.WORKLOADS:
            self.assertEqual(run.make_plan(w, 7), run.make_plan(w, 7))

    def test_other_seed_other_plan(self):
        for w in run.WORKLOADS:
            self.assertNotEqual(run.make_plan(w, 7), run.make_plan(w, 8))

    def test_cloud_passes_keep_their_mix(self):
        for seed in range(20):
            for ops in run.make_plan("clouds", seed)[1]:
                self.assertEqual(sorted(op[1] for op in ops[:4]), sorted(run.MODES))
                self.assertEqual([op[:2] for op in ops[4:]], [("export", "taxon")])
                self.assertEqual([op[0] for op in ops[:4]], ["view"] * 4)
                self.assertTrue(all(0.02 <= op[3] <= 0.15 for op in ops))

    def test_key_passes_cover_every_key(self):
        for w, keys in run.KEYS.items():
            for ops in run.make_plan(w, 3)[1]:
                self.assertEqual(sorted(k for _, k in ops), sorted(keys))


class DigestTest(unittest.TestCase):
    """digest.py must call two results equal exactly when tools/check.py
    does: same columns in any order, same rows in any order, same values."""

    def check_py(self, oracle_rows, spark_df):
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            sf, out = os.path.join(d, "sf"), os.path.join(d, "out")
            os.makedirs(sf)
            os.makedirs(os.path.join(out, "k"))
            pd.DataFrame(oracle_rows, columns=["b", "a", "c"]).to_parquet(os.path.join(sf, "t.parquet"))
            spark_df.to_parquet(os.path.join(out, "k", "part-0.parquet"))
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"k": "SELECT b, a, c FROM t"}, f)
            r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), sf, out,
                                "--skip-run"], capture_output=True, text=True)
            return r.returncode == 0

    def test_agrees_with_check_py(self):
        import pandas as pd
        rows = [(1, "x", 0.1), (2, "y", 2.5e-7), (3, None, -0.0), (2, "y", 2.5e-7)]
        cases = {
            "permuted": (pd.DataFrame({"c": [2.5e-7, 0.1, 0.0, 2.5e-7], "a": ["y", "x", None, "y"],
                                       "b": [2, 1, 3, 2]}), True),
            "one ulp off": (pd.DataFrame({"a": ["x", "y", None, "y"], "b": [1, 2, 3, 2],
                                          "c": [0.1 + 2 ** -56, 2.5e-7, 0.0, 2.5e-7]}), False),
            "row missing": (pd.DataFrame({"a": ["x", "y", None], "b": [1, 2, 3],
                                          "c": [0.1, 2.5e-7, 0.0]}), False),
            "duplicate differs": (pd.DataFrame({"a": ["x", "y", None, "x"], "b": [1, 2, 3, 1],
                                                "c": [0.1, 2.5e-7, 0.0, 0.1]}), False),
        }
        want = digest.digest(["b", "a", "c"], rows)
        for name, (df, equal) in cases.items():
            with self.subTest(name):
                self.assertEqual(self.check_py(rows, df), equal)
                got = digest.digest(list(df.columns), list(df.itertuples(index=False, name=None)))
                self.assertEqual(got == want, equal)

    def test_duckdb_values_encode_like_python_values(self):
        con = digest.connect(tempfile.mkdtemp())
        sql = ("SELECT * FROM (VALUES (1::BIGINT, 'x', 0.1::DOUBLE, 1.50::DECIMAL(12,2), true),"
               " (2, NULL, NULL, NULL, false)) v(i, s, d, m, b)")
        self.assertEqual(digest.duckdb_digest(con, sql), digest.digest(
            ["i", "s", "d", "m", "b"], [(1, "x", 0.1, 1.5, True), (2, None, None, None, False)]))


class DeclaredMetricsTest(unittest.TestCase):
    """run.py refuses to print undeclared names at run time; this catches
    a mismatch without running the benchmark."""

    def test_printed_names_are_declared(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        with open(os.path.join(BENCH, "run.py")) as f:
            end_to_end = re.search(r'values = \{([^}]*)\}', f.read()).group(1)
        self.assertEqual(set(re.findall(r'"([a-z0-9_]+)":', end_to_end)),
                         {m["name"] for m in spec["end_to_end"]})
        sources = ""
        for name in ("Harness.scala", "Probes.scala", "Tracer.scala"):
            with open(os.path.join(BENCH, "harness", name)) as f:
                sources += f.read()
        sampled = set(re.findall(r'sample\("([a-z0-9_.]+)"', sources))
        sampled |= set(re.findall(r'"((?:spark|driver)\.[a-z_]+)" ->', sources))
        sampled |= {"driver_live_heap_mb", "op_p50_s"}  # from the run summary
        self.assertEqual(sampled, {m["name"] for m in spec["per_layer"]})


if __name__ == "__main__":
    unittest.main()
