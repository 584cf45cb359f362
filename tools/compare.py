#!/usr/bin/env python3
"""Local correctness gate: for each query in the oracle_sql.json
written by graft.Verify, run its oracle SQL in DuckDB over the same
testdata tables and diff the result against the query's output
parquet. A query with no output directory counts as a fail.

Two layers, both must pass:
 1. semantic: pandas exact-value compare with dtype coercion;
 2. repr: the Spark side is read via pyarrow (Decimal objects survive),
    the oracle via duckdb.df() (DECIMAL degrades to float64), every
    value is stringified, frames must be identical. This catches the
    representation-level mismatches the driver's value hash catches
    (e.g. Decimal('42') vs 42.0) that layer 1 coerces away.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb
import pandas as pd


def norm(df):
    cols = sorted(df.columns)
    df = df[cols]
    return df.sort_values(by=cols, ignore_index=True)


def reprnorm(df):
    cols = sorted(df.columns)
    s = df[cols].apply(
        lambda c: c.map(lambda v: "NULL" if pd.isna(v) else str(v)))
    return s.sort_values(by=cols, ignore_index=True)


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    n_pass = n_fail = 0
    # every oracled query must have written its output: a query that
    # failed in graft.Verify leaves no directory and counts as a fail
    for name in sorted(oracles):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            print(f"[FAIL missing] {name}: no output directory")
            n_fail += 1
            continue
        parts = sorted(glob.glob(f"{qdir}/*.parquet"))
        # legitimately-empty result under AQE: zero part files. Take the
        # oracle's columns with zero rows so the comparison is
        # "empty == empty" (pass) or a rows mismatch (fail) — never a
        # crash, and never a guaranteed column-mismatch failure.
        got = (pd.concat([pd.read_parquet(p) for p in parts],
                         ignore_index=True)
               if parts else None)
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"[FAIL oracle-sql] {name}: {e}")
            n_fail += 1
            continue
        if got is None:
            got = want.iloc[0:0]
        g, w = norm(got), norm(want)
        if list(g.columns) != list(w.columns):
            print(f"[FAIL cols] {name}: got {list(g.columns)} "
                  f"want {list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"[FAIL rows] {name}: got {len(g)} want {len(w)}")
            n_fail += 1
            continue
        try:
            import pandas.testing as pt
            pt.assert_frame_equal(g, w, check_dtype=False,
                                  check_exact=True)
        except AssertionError as e:
            print(f"[FAIL vals] {name}: {str(e)[:500]}")
            neq = (g != w) & ~(g.isna() & w.isna())
            bad = neq.any(axis=1)
            if bad.any():
                i = bad.idxmax()
                print("  got :", g.loc[i].to_dict())
                print("  want:", w.loc[i].to_dict())
            n_fail += 1
            continue
        # layer 2: repr-identical (driver hash proxy)
        rg, rw = reprnorm(got), reprnorm(want)
        if not rg.equals(rw):
            neq = (rg != rw).any(axis=1)
            i = neq.idxmax()
            print(f"[FAIL repr] {name}:")
            print("  got :", rg.loc[i].to_dict())
            print("  want:", rw.loc[i].to_dict())
            n_fail += 1
            continue
        print(f"[ok] {name}: {len(g)} rows")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
