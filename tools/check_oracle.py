"""Local replica of the driver's t2 correctness gate.

Runs every registered query on Spark and its DuckDB oracle on the same
parquet tables, then compares row count, column names, dtype families,
and order-insensitive values. Usage:

    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from decimal import Decimal

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, Decimal)).any():
            df[c] = df[c].astype(float)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None).astype("datetime64[us]")
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> list[str]:
    errs = []
    if len(spark_pd) != len(duck_pd):
        errs.append(f"row count: spark={len(spark_pd)} duck={len(duck_pd)}")
    sc, dc = sorted(spark_pd.columns), sorted(duck_pd.columns)
    if sc != dc:
        errs.append(f"columns: spark={sc} duck={dc}")
        return errs
    a, b = canon(spark_pd), canon(duck_pd)
    if len(a) == len(b):
        for c in a.columns:
            if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
                diff = (a[c] - b[c]).abs()
                if diff.max() > 0 or a[c].isna().sum() != b[c].isna().sum():
                    mx = diff.max()
                    errs.append(f"col {c}: max abs diff {mx}")
            else:
                neq = (a[c].astype(str) != b[c].astype(str)).sum()
                if neq:
                    ex_a = a[c][a[c].astype(str) != b[c].astype(str)].head(3).tolist()
                    ex_b = b[c][a[c].astype(str) != b[c].astype(str)].head(3).tolist()
                    errs.append(f"col {c}: {neq} mismatched values, e.g. {ex_a} vs {ex_b}")
    return errs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as se
    from multi_search_retrival_big_data_spark.session import get_spark

    spark = get_spark("check-oracle")
    qs, oracles = se.queries(), se.oracle_sql()
    names = args.names or list(qs)
    con = duck_con(args.sf)
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            spark_pd = qs[name](spark, args.sf).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only check, {len(spark_pd)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            duck_pd = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        errs = compare(name, spark_pd, duck_pd)
        if errs:
            failures += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for e in errs:
                print(f"     {e}")
        else:
            print(f"PASS {name}: {len(spark_pd)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
