#!/usr/bin/env python3
"""Recompute perfbench/expected_digests.json from the registry's oracle SQL.

The kernels workload's inputs are fixed, so the expected results of its
keys are computed once, in DuckDB, from `SparkEntry.oracleSql` over
perfbench/data/sf0.1, and stored as digests (see digest.py). This takes
several minutes; run it only when a key's oracle or the data changes:

    python3 perfbench/make_digests.py [key,key,...]
"""
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import digest  # noqa: E402
import run  # noqa: E402


def main():
    keys = sys.argv[1].split(",") if len(sys.argv) > 1 else run.KEYS["kernels"]
    classes = run.build()
    sql_file = os.path.join(run.BUILD_DIR, "oracle_sql.json")
    subprocess.run(run.java_cmd(classes, "2g") + ["perfbench.Harness", "--oracle-sql", sql_file, ",".join(keys)],
                   check=True)
    sqls = json.load(open(sql_file))
    path = os.path.join(HERE, "expected_digests.json")
    out = json.load(open(path)) if os.path.exists(path) else {}
    con = digest.connect(os.path.join(HERE, "data", "sf0.1"), threads=3)
    for k in keys:
        t0 = time.time()
        out[k] = digest.duckdb_digest(con, sqls[k])
        print("%-28s %7.1f s  %s" % (k, time.time() - t0, out[k]), flush=True)
        with open(path, "w") as f:
            json.dump(dict(sorted(out.items())), f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
