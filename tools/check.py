#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify's
parquet dumps against the DuckDB oracles and diff.

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]
(Expects Verify to have already written <outDir>/<name>/ parquet dirs and
<outDir>/oracle_sql.json.)
"""
import json, os, sys, glob
import duckdb
import pandas as pd


def table_path(sf_dir: str, t: str) -> str:
    """A table is a single parquet file in the driver's testdata, but a
    directory of part files when Spark wrote it (e.g. the ScaleUp 10×
    corpus) — glob the parts in that case."""
    p = f"{sf_dir}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def tables(sf_dir: str) -> list:
    """Every `<name>.parquet` entry of the corpus directory, file or
    directory alike."""
    return sorted(e[:-len(".parquet")] for e in os.listdir(sf_dir)
                  if e.endswith(".parquet"))


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in tables(sf_dir):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet({files!r})").df())
            want = canon(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        ok = True
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            ok = False
        elif [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
            print(f"FAIL {name}: dtypes\n  got  {dict(got.dtypes.astype(str))}\n  want {dict(want.dtypes.astype(str))}")
            ok = False
        elif len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            ok = False
        else:
            neq = (got.fillna("~N~") != want.fillna("~N~"))
            if neq.any().any():
                bad_cols = [c for c in got.columns if neq[c].any()]
                print(f"FAIL {name}: value mismatch in {bad_cols}")
                idx = neq.any(axis=1)
                print("  got :", got[idx].head(3).to_dict("records"))
                print("  want:", want[idx].head(3).to_dict("records"))
                ok = False
        if ok:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
