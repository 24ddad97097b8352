#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: check.py <sfdir> <verify_out_dir>

For each query in oracle_sql.json: run the SQL in DuckDB over the sfdir
parquet tables, load the Spark result parquet, sort columns by name,
sort rows, and compare cell values (exact for non-floats, tiny tolerance
reported separately for floats so rounding slips are visible).
"""
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df


def is_null(v):
    """NULL as pandas materializes it: None or a float NaN."""
    return v is None or (isinstance(v, float) and math.isnan(v))


def cells_equal(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
            return (b is None) or (isinstance(b, float) and math.isnan(b))
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            continue
        try:
            got = canon(pd.read_parquet(f"{outdir}/{name}"))
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            continue
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: columns want={list(want.columns)} got={list(got.columns)}")
            continue
        if len(want) != len(got):
            print(f"FAIL {name}: rows want={len(want)} got={len(got)}")
            continue
        bad = 0
        exact = True
        # The driver hashes raw values with no tolerance, so an oracle
        # column that materializes as float64 (e.g. DuckDB HUGEINT from
        # an un-cast window sum(BIGINT)) against a Spark int64 column is
        # a driver-only hash failure even when every value compares
        # equal here. Surface the dtype divergence loudly.
        for c in want.columns:
            wk, gk = want[c].dtype.kind, got[c].dtype.kind
            if {wk, gk} == {"f", "i"} or {wk, gk} == {"f", "u"}:
                print(f"WARN {name} col {c}: dtype want={want[c].dtype} "
                      f"got={got[c].dtype} — driver hash WILL mismatch; "
                      f"CAST the oracle column")
        for cidx, c in enumerate(want.columns):
            wv, gv = want[c].tolist(), got[c].tolist()
            for i in range(len(wv)):
                # NaN != NaN: a cell NULL on both sides is exact
                if wv[i] != gv[i] and not (is_null(wv[i]) and is_null(gv[i])):
                    exact = False
                if not cells_equal(wv[i], gv[i]):
                    if bad < 3:
                        print(f"  {name} row {i} col {c}: want={wv[i]!r} got={gv[i]!r}")
                    bad += 1
        if bad:
            print(f"FAIL {name}: {bad} mismatched cells")
        else:
            n_ok += 1
            print(f"OK   {name} ({len(want)} rows{'' if exact else ', float-tol only'})")
    print(f"{n_ok}/{len(oracle)} queries match")


if __name__ == "__main__":
    main()
