"""Driver-mimic: run every queries() entry on Spark and its oracle_sql()
twin on DuckDB at the same sf dir; compare row count, sorted column
names, and an order-insensitive value comparison (exact match after
stringification, rows sorted).

Usage: python scripts/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from ragflow_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].map(lambda v: repr(float(v)))
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].map(lambda v: repr(int(v)))
        else:
            df[c] = df[c].map(lambda v: str(v))
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_entry")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({t_spark:.1f}s, rows-only)")
            if len(sdf) == 0:
                print(f"WARN  {name}: 0 rows")
            continue
        t0 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures += 1
            continue
        t_duck = time.time() - t0
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_vals = False
        if ok_rows and ok_cols:
            a, b = canon_frame(sdf), canon_frame(odf)
            ok_vals = a.equals(b)
            if not ok_vals:
                diff = a.compare(b) if len(a) == len(b) else None
                print(f"      first diffs for {name}:")
                if diff is not None:
                    print(diff.head(5).to_string())
        status = "OK  " if (ok_rows and ok_cols and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status}  {name}: spark={len(sdf)} duck={len(odf)} rows "
            f"cols={'=' if ok_cols else sorted(sdf.columns) + ['<>'] + sorted(odf.columns)} "
            f"vals={'=' if ok_vals else 'DIFF'} ({t_spark:.1f}s/{t_duck:.1f}s)"
        )
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
