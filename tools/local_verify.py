#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/local_verify.py <sfDir> <verifyOutDir> [key ...]

Reads <verifyOutDir>/oracle_sql.json, registers the parquet tables of
<sfDir> in DuckDB, runs each oracle query, and compares rows/schema/
value-hash against the Spark result parquet at <verifyOutDir>/<key>/.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        key=lambda s: s.astype(str))
    return df


def value_hash(df: pd.DataFrame) -> str:
    import hashlib
    h = hashlib.sha256()
    for col in df.columns:
        for v in df[col]:
            if isinstance(v, float):
                h.update(repr(v).encode())
            else:
                h.update(str(v).encode())
            h.update(b"\x00")
    return h.hexdigest()


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single .parquet files; Spark-written
        # datasets (GenScale sf1) are directories of part files
        import os
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # a key named on the command line that has no oracle is a failure,
    # not a skip: a typo must not turn into an empty run that exits 0
    missing = sorted(set(keys) - set(oracle))
    for key in missing:
        print(f"{key}: NO ORACLE (not in oracle_sql.json)")
    failures = len(missing)
    for key, sql in sorted(oracle.items()):
        if keys and key not in keys:
            continue
        try:
            spark = pd.read_parquet(f"{out_dir}/{key}")
        except Exception as e:
            print(f"{key}: NO SPARK RESULT ({e})")
            failures += 1
            continue
        try:
            ora = con.sql(sql).df()
        except Exception as e:
            print(f"{key}: ORACLE SQL ERROR: {e}")
            failures += 1
            continue
        rows = len(spark) == len(ora)
        s_c, o_c = canon(spark), canon(ora)
        schema = list(s_c.columns) == list(o_c.columns)
        hmatch = rows and schema and value_hash(s_c) == value_hash(o_c)
        status = "PASS" if (rows and schema and hmatch) else "FAIL"
        print(f"{key}: {status} rows={len(spark)}/{len(ora)} "
              f"schema={schema} hash={hmatch}")
        if status == "FAIL":
            failures += 1
            if not schema:
                print(f"  spark cols: {list(s_c.columns)}")
                print(f"  ora   cols: {list(o_c.columns)}")
            elif rows:
                neq = (s_c.astype(str) != o_c.astype(str)).any(axis=1)
                print("  first diffs (spark vs oracle):")
                print(pd.concat([s_c[neq].head(3), o_c[neq].head(3)]))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
