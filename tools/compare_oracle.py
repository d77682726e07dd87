#!/usr/bin/env python3
"""Local pre-check of the driver's DuckDB-oracle gate.

Usage: compare_oracle.py <sfDir> <verifyOutDir> [query...]
(a query is named in full or by its qNN prefix)
Runs each oracle_sql.json entry in DuckDB over the parquet tables and
compares (column-sorted, row-sorted, exact) with the Spark parquet dump
written by graft.Verify. Dev tooling only — not part of the shipped library.
"""
import sys, json, glob, os
import duckdb, pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # in-memory DuckDB cannot spill without a temp_directory — q225's
    # 10x-corpus oracle (80k clustered vectors through the plane-pool
    # CTEs) OOMs at the default; with a spill dir it completes
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
    con.sql("SET max_temp_directory_size='60GB'")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name in sorted(oracle):
        # a query is selected by its full name or its qNN prefix (the
        # SPARK_GRAFT_ONLY form)
        if only and name not in only and name.split("_")[0] not in only:
            continue
        try:
            exp = norm(con.sql(oracle[name]).df())
            files = glob.glob(f"{outdir}/{name}/*.parquet")
            if not files:
                print(f"{name}: MISSING spark output"); n_bad += 1; continue
            got = norm(pd.read_parquet(f"{outdir}/{name}"))
            if list(exp.columns) != list(got.columns):
                print(f"{name}: COLS exp={list(exp.columns)} got={list(got.columns)}"); n_bad += 1; continue
            dt_exp = [str(t) for t in exp.dtypes]; dt_got = [str(t) for t in got.dtypes]
            if dt_exp != dt_got:
                print(f"{name}: DTYPES exp={dt_exp} got={dt_got}"); n_bad += 1; continue
            if len(exp) != len(got):
                print(f"{name}: NROWS exp={len(exp)} got={len(got)}"); n_bad += 1; continue
            neq = ~((exp == got) | (exp.isna() & got.isna()))
            bad = neq.any(axis=1)
            if bad.any():
                print(f"{name}: VALUES differ in {bad.sum()}/{len(exp)} rows; first diffs:")
                cols = [c for c in exp.columns if neq[c].any()]
                print("  exp:", exp.loc[bad, cols].head(3).to_dict("records"))
                print("  got:", got.loc[bad, cols].head(3).to_dict("records"))
                n_bad += 1
            else:
                print(f"{name}: OK ({len(exp)} rows)"); n_ok += 1
        except Exception as e:
            print(f"{name}: ERROR {type(e).__name__}: {e}"); n_bad += 1
    print(f"== {n_ok} ok, {n_bad} bad ==")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
