#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables and compare against the Verify output
(columns sorted by name, exact value compare). Usage:

    python3 tools/compare_oracle.py /root/testdata/sf0.001 /tmp/verify001
"""
import glob
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    # normalize date-like object columns (spark DATE -> datetime.date objects)
    # to pandas Timestamps so they compare equal to duckdb's datetime64
    import datetime
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], datetime.date) \
                and not isinstance(df[c].iloc[0], datetime.datetime):
            df[c] = pd.to_datetime(df[c])
    return df


def cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb  # exact: the driver hashes, so we demand bit equality
    return str(a) == str(b)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    n_pass = n_fail = 0
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        files = glob.glob(os.path.join(qdir, "*.parquet"))
        spark_df = canon(pd.concat([pd.read_parquet(p) for p in sorted(files)]))
        if name not in oracle:
            print(f"  {name}: NO-ORACLE rows={len(spark_df)} (rows-only check)")
            continue
        try:
            duck_df = canon(con.sql(oracle[name]).df())
        except Exception as e:
            print(f"✗ {name}: oracle SQL failed: {e}")
            n_fail += 1
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"✗ {name}: columns {list(spark_df.columns)} vs {list(duck_df.columns)}")
            n_fail += 1
            continue
        if len(spark_df) != len(duck_df):
            print(f"✗ {name}: rows {len(spark_df)} vs {len(duck_df)}")
            n_fail += 1
            continue
        mismatch = None
        for c in spark_df.columns:
            sv, dv = spark_df[c].tolist(), duck_df[c].tolist()
            for i, (a, b) in enumerate(zip(sv, dv)):
                if not cells_equal(a, b):
                    mismatch = (c, i, a, b)
                    break
            if mismatch:
                break
        # dtype note (schema check may be driver-strict)
        dt_note = ""
        for c in spark_df.columns:
            if str(spark_df[c].dtype) != str(duck_df[c].dtype):
                dt_note += f" [dtype {c}: {spark_df[c].dtype} vs {duck_df[c].dtype}]"
        if mismatch:
            c, i, a, b = mismatch
            print(f"✗ {name}: row {i} col {c}: spark={a!r} duck={b!r}{dt_note}")
            n_fail += 1
        else:
            print(f"✓ {name}: {len(spark_df)} rows{dt_note}")
            n_pass += 1
    for name in sorted(oracle):
        if not os.path.isdir(os.path.join(out_dir, name)):
            print(f"✗ {name}: no Verify output")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
