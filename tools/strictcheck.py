#!/usr/bin/env python3
"""Strict (bit-exact) mimic of the driver's hash compare.

Usage: python3 tools/strictcheck.py <sfDir> <verifyOutDir> [name ...]
       python3 tools/strictcheck.py --against <otherVerifyOutDir>
           <verifyOutDir> [name ...]

Like tools/check.py but with NO float tolerance: after sorting columns
by name and rows by all columns, every value must be exactly equal
(floats compared by bit pattern via repr). This is the bar the driver's
hash_match applies; check.py's isclose pass is NOT sufficient.

With --against, each query's Spark output is compared with the Spark
output of the same query in another Verify run (say, of the parent
commit) under the same rendering, instead of with DuckDB: every query
that differs is printed, and the exit status is non-zero if any does.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def cell(v):
    # null check FIRST: NaN must map to '<null>' before the float-repr
    # branch (else float-dtype NaN renders 'nan' while object-dtype None
    # renders '<null>' and null-bearing columns spuriously mismatch)
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<null>" if np.isnan(v) else repr(v)  # bit-faithful doubles
    try:
        if pd.isna(v):  # pd.NaT / pd.NA in object columns
            return "<null>"
    except (TypeError, ValueError):
        pass  # array-valued cell: isna is ambiguous, fall through
    # a DATE surfaces as datetime.date from Spark parquet but as a
    # midnight datetime64 from DuckDB's .df(); the driver's rendering
    # (Series.astype(str)) drops the zero time-of-day, so match it —
    # symmetric on both sides, so genuine timestamps stay comparable
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        t = pd.Timestamp(v)
        if t.time() == pd.Timestamp(0).time() and t.tz is None:
            return str(t.date())
    return str(v)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        # sort on STRINGIFIED cells: object columns holding None raise
        # TypeError under raw sort_values (None vs str comparison), and
        # this also makes the row order engine-dtype-independent
        sdf = pd.DataFrame(
            {c: [cell(v) for v in df[c].tolist()] for c in df.columns})
        order = sdf.sort_values(by=list(sdf.columns), kind="mergesort").index
        df = df.loc[order].reset_index(drop=True)
    return df


def spark_output(outdir, name):
    """One query's Spark output under `outdir`, canonicalized; None when
    the run wrote none."""
    files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    if not files:
        return None
    return canon(pd.concat([pd.read_parquet(f) for f in files],
                           ignore_index=True))


def difference(got, exp, got_side, exp_side):
    """None when two canonical frames render identically, else why not."""
    if list(got.columns) != list(exp.columns):
        return (f"columns {got_side}={list(got.columns)} "
                f"{exp_side}={list(exp.columns)}")
    if len(got) != len(exp):
        return f"rows {got_side}={len(got)} {exp_side}={len(exp)}"
    for c in got.columns:
        gs = np.array([cell(v) for v in got[c].tolist()])
        es = np.array([cell(v) for v in exp[c].tolist()])
        neq = gs != es
        if neq.any():
            i = int(np.argmax(neq))
            return (f"col {c} ({got[c].dtype}/{exp[c].dtype}) "
                    f"row {i}: {got_side}={gs[i]!r} {exp_side}={es[i]!r} "
                    f"(n_diff={int(neq.sum())})")
    return None


def against(otherdir, outdir, only):
    names = set(json.load(open(f"{outdir}/oracle_sql.json"))) | set(
        json.load(open(f"{otherdir}/oracle_sql.json")))
    n_same = n_diff = 0
    for name in sorted(names):
        if only and name not in only:
            continue
        try:
            got, other = spark_output(outdir, name), spark_output(otherdir, name)
            if got is None or other is None:
                detail = (f"no spark output in "
                          f"{outdir if got is None else otherdir}")
            else:
                detail = difference(got, other, "this", "other")
        except Exception as e:
            detail = f"{type(e).__name__}: {e}"
        if detail is None:
            n_same += 1
        else:
            print(f"DIFF {name}: {detail}")
            n_diff += 1
    print(f"\n{n_same} identical, {n_diff} differ")
    sys.exit(1 if n_diff else 0)


def main():
    args = sys.argv[1:]
    if args and args[0] == "--against":
        against(args[1], args[2], set(args[3:]))
    sfdir, outdir = args[0], args[1]
    only = set(args[2:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            got = spark_output(outdir, name)
            if got is None:
                print(f"FAIL {name}: no spark output")
                n_fail += 1
                continue
            exp = canon(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        detail = difference(got, exp, "spark", "duck")
        if detail is None:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {detail}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail (strict)")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
