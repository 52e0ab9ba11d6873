#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: read each Spark query
result written by graft.Verify, run the paired oracle SQL in DuckDB over the
same testdata, and compare (schema, rowcount, sorted values).

Usage: python3 dev/check.py <sfDir> <verifyOutDir> [query ...]
"""
import json, math, os, sys
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize values: floats rounded for comparison stability checks
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        key=lambda s: s.astype(str))
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # name -> error for each query Verify could not write; Verify writes it
    # last, so a missing file means the run did not finish
    failures_path = f"{out_dir}/failures.json"
    if not os.path.exists(failures_path):
        print(f"FAIL: {failures_path} missing: Verify did not finish")
        sys.exit(1)
    failures = json.load(open(failures_path))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            expected = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name in failures:
            print(f"FAIL {name}: spark failed: {failures[name][:300]}")
            n_fail += 1
            continue
        try:
            actual = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {str(e)[:200]}")
            n_fail += 1
            continue
        e, a = norm(expected), norm(actual)
        if list(e.columns) != list(a.columns):
            print(f"FAIL {name}: columns {list(a.columns)} != {list(e.columns)}")
            n_fail += 1
            continue
        if len(e) != len(a):
            print(f"FAIL {name}: rows spark={len(a)} duckdb={len(e)}")
            n_fail += 1
            continue
        sch_e = [str(t) for t in e.dtypes]
        sch_a = [str(t) for t in a.dtypes]
        mismatch_cols = []
        for c in e.columns:
            ce, ca = e[c], a[c]
            if ce.dtype.kind == 'f' or ca.dtype.kind == 'f':
                ok = ((ce.isna() & ca.isna()) | (abs(ce - ca) <= 1e-12)).all()
                exact = ((ce.isna() & ca.isna()) | (ce == ca)).all()
                if not ok:
                    mismatch_cols.append(c)
                elif not exact:
                    mismatch_cols.append(c + " (INEXACT<1e-12: driver may hash-fail)")
            else:
                if not ((ce.isna() & ca.isna()) | (ce.astype(str) == ca.astype(str))).all():
                    mismatch_cols.append(c)
        if mismatch_cols:
            print(f"FAIL {name}: value mismatch in {mismatch_cols}")
            for c in mismatch_cols:
                c0 = c.split(" ")[0]
                diff = e[c0].astype(str) != a[c0].astype(str)
                idx = diff[diff].index[:3] if diff.any() else []
                for i in idx:
                    print(f"   row {i}: duckdb={e[c0][i]!r} spark={a[c0][i]!r}")
            n_fail += 1
            continue
        sch_note = "" if sch_e == sch_a else f"  [dtype diff: spark={sch_a} duckdb={sch_e}]"
        print(f"PASS {name} ({len(e)} rows){sch_note}")
        n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
