#!/usr/bin/env python3
"""DuckDB oracle compare for a graft.Verify output directory.

Usage: oracle_check.py <sfDir> <verifyOutDir>

For each query dir under verifyOutDir: load the Spark parquet result,
run the matching oracle SQL from oracle_sql.json in DuckDB against the
sfDir tables, sort columns by name, sort rows, and compare values
EXACTLY (floats included — queries are written to be bit-deterministic
across engines: rounded aggregates, id-only similarity outputs).

Every oracle key with no query dir (a query that threw in Verify, which
then writes nothing for it) is a NO_SPARK_OUTPUT failure and counts in
the total. Exits 1 if any row FAILs, 0 otherwise.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for name in oracles:
        if not os.path.isdir(os.path.join(out_dir, name)):
            results[name] = "NO_SPARK_OUTPUT"
    for qdir in sorted(glob.glob(os.path.join(out_dir, "*/"))):
        name = os.path.basename(qdir.rstrip("/"))
        files = glob.glob(os.path.join(qdir, "*.parquet"))
        if not files:
            results[name] = "NO_SPARK_OUTPUT"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracles:
            results[name] = f"ROWS_ONLY ({len(spark_df)} rows)"
            continue
        try:
            duck_df = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        s, d = canon(spark_df), canon(duck_df)
        if list(s.columns) != list(d.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(s.columns)} duck={list(d.columns)}"
            continue
        if len(s) != len(d):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(s)} duck={len(d)}"
            continue
        mismatch = None
        for c in s.columns:
            sv, dv = s[c], d[c]
            if sv.dtype.kind == "f" or dv.dtype.kind == "f":
                sa = sv.astype(float).to_numpy()
                da = dv.astype(float).to_numpy()
                both_nan = np.isnan(sa) & np.isnan(da)
                eq = (sa == da) | both_nan
                if not eq.all():
                    bad = int((~eq).sum())
                    idx = int(np.argmax(~eq))
                    mismatch = (f"col {c}: {bad} float diffs, first at row {idx}: "
                                f"spark={sa[idx]!r} duck={da[idx]!r}")
                    break
            else:
                sv2 = sv.astype(str); dv2 = dv.astype(str)
                if not (sv2 == dv2).all():
                    neq = sv2 != dv2
                    bad = int(neq.sum())
                    idx = int(np.argmax(neq.to_numpy()))
                    mismatch = (f"col {c}: {bad} diffs, first at row {idx}: "
                                f"spark={sv.iloc[idx]!r} duck={dv.iloc[idx]!r}")
                    break
        results[name] = mismatch or "OK"
    n_ok = sum(1 for v in results.values() if v == "OK")
    n_fail = 0
    for k, v in sorted(results.items()):
        flag = "PASS" if v == "OK" else ("INFO" if v.startswith("ROWS_ONLY") else "FAIL")
        n_fail += flag == "FAIL"
        print(f"[{flag}] {k}: {v}")
    print(f"\n{n_ok} exact-match / {len(results)} total")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main())
