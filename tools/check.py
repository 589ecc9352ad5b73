#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB correctness gate.

Usage: python3 tools/check.py <sfDir> <outDir> [--skip-run]

1. (unless --skip-run) runs `sbt "runMain graft.Verify <sfDir> <outDir>"`
2. registers <sfDir>/*.parquet as DuckDB views named after the table
3. runs each SQL in <outDir>/oracle_sql.json
4. loads the Spark result parquet, sorts columns by name + rows, and
   compares values exactly (the driver hash-compares, so exact it is).

Dev tooling only — the Scala library never depends on this.
"""
import sys, os, json, glob, subprocess

# the checkout this script sits in (tools/..), so a second checkout
# verifies its own sources
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    if "--skip-run" not in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}'],
            cwd=ROOT, capture_output=True, text=True)
        sys.stdout.write(r.stdout[-3000:])
        if r.returncode != 0:
            print(r.stderr[-3000:]); print("VERIFY RUN FAILED"); sys.exit(1)

    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    spark_outs = {os.path.basename(p): p for p in glob.glob(f"{out_dir}/*") if os.path.isdir(p)}

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype("datetime64[us]")
        return df.sort_values(list(df.columns), ignore_index=True)

    n_pass = n_fail = 0
    for name in sorted(spark_outs):
        got = canon(con.execute(
            f"SELECT * FROM read_parquet('{spark_outs[name]}/*.parquet')").df())
        if name not in oracle:
            status = f"rows-only ({len(got)} rows)"
            ok = len(got) > 0
        else:
            try:
                exp = canon(con.execute(oracle[name]).df())
            except Exception as e:
                print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
            ok = got.shape == exp.shape and list(got.columns) == list(exp.columns)
            if ok:
                try:
                    pd.testing.assert_frame_equal(got, exp, check_dtype=True,
                                                  check_exact=True)
                except AssertionError as e:
                    ok = False
                    status = f"value mismatch: {str(e)[:400]}"
            else:
                status = f"shape/cols mismatch: spark={got.shape}{list(got.columns)} oracle={exp.shape}{list(exp.columns)}"
            if ok:
                status = f"hash-match ({len(got)} rows)"
        if ok: n_pass += 1
        else: n_fail += 1
        print(("PASS" if ok else "FAIL"), name, "—", status)
    missing = set(oracle) - set(spark_outs)
    for m in missing:
        print("FAIL", m, "— oracle declared but no spark output"); n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
