#!/usr/bin/env python3
"""Dev-only pre-flight for the driver's DuckDB correctness gate.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir> [query...]

Mimics the driver: for each query in oracle_sql.json, run the SQL in
DuckDB over the sfDir parquet tables, load the Spark parquet result,
sort columns by name (and rows), and compare values exactly. Query
names after the two directories restrict the check to those queries,
as they restrict graft.Verify's run.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    # list/array cells aren't sortable/hashable — compare via a stable
    # string form (matches the driver's value-hash approach closely
    # enough for a dev pre-flight)
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or
                     hasattr(v, "__array__")).any():
            df[c] = df[c].map(lambda v: str(list(v)) if v is not None else None)
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main(sf_dir: str, out_dir: str, only=()) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    for name in sorted(set(only) - set(oracle)):
        print(f"SKIP {name}: no oracle SQL (rows-only gate)")
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            duck = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        spark = pd.concat([pd.read_parquet(f) for f in sorted(spark_files)])
        d, s = norm(duck), norm(spark)
        if list(d.columns) != list(s.columns):
            print(f"FAIL {name}: columns duck={list(d.columns)} spark={list(s.columns)}")
            n_fail += 1
            continue
        if len(d) != len(s):
            print(f"FAIL {name}: rows duck={len(d)} spark={len(s)}")
            n_fail += 1
            continue
        # exact compare; show first few diffs
        bad = []
        for c in d.columns:
            dv = d[c]
            sv = s[c]
            try:  # align representation (e.g. decimal objects vs float64)
                sv = sv.astype(dv.dtype)
            except Exception:
                pass
            try:
                neq = ~((dv == sv) | (dv.isna() & sv.isna()))
            except Exception:
                neq = pd.Series([True] * len(dv))
            if neq.any():
                i = neq.idxmax()
                bad.append((c, dv[i], sv[i], int(neq.sum())))
        if bad:
            print(f"FAIL {name}: value diffs {bad[:3]}")
            n_fail += 1
        else:
            print(f"OK   {name} ({len(d)} rows)")
    return n_fail

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
